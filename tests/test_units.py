"""Unit tests: C1 vectors, xxh64 parity, robots matching, bloom round-trip,
the seen-filter probe, and the CI gates against per-row Python,
unreferenced engine definitions and engine options no caller sets
(SURVEY.md §5.3, §5.7)."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import numpy as np
import pytest

from engine.seen import _positions, _probe_bits, _set_bits
from engine.synthgraph import TINY, robots_allowed, synth_doc
from engine.urlnorm import canonicalize_url, host_of, path_of
from engine.xxh64 import xxh64_long, xxh64_str

CANON_VECTORS = [
    # (raw, expected) — RFC 3986 cases (T-C)
    ("HTTPS://Host01.Example:443/a/../p?utm_source=x&b=2&a=1#f", "https://host01.example/p?a=1&b=2"),
    ("http://h.example:80/", "http://h.example/"),
    ("http://h.example", "http://h.example/"),
    ("http://h.example:8080/p", "http://h.example:8080/p"),
    ("https://h.example/%7Euser/%2fx", "https://h.example/~user/%2Fx"),
    ("https://h.example/a/./b/../c", "https://h.example/a/c"),
    ("https://h.example/a/b/../../../c", "https://h.example/c"),
    ("https://user:pw@h.example/p", "https://h.example/p"),
    ("ftp://h.example/p", None),
    ("not a url", None),
    ("", None),
    ("https://h.example/p?utm_campaign=z", "https://h.example/p"),
]


@pytest.mark.parametrize("raw,want", CANON_VECTORS)
def test_canonicalize_vectors(raw, want):
    assert canonicalize_url(raw) == want


def test_canonicalize_relative_base():
    assert canonicalize_url("../x/y", base="https://h.example/a/b/c") == "https://h.example/a/x/y"
    assert canonicalize_url("/abs", base="https://h.example/a/b") == "https://h.example/abs"


def test_host_path_helpers():
    assert host_of("https://h.example:8080/p/q?a=1") == "h.example"
    assert path_of("https://h.example:8080/p/q?a=1") == "/p/q"
    assert path_of("https://h.example/") == "/"


def test_xxh64_spark_parity(spark):
    from pyspark.sql import functions as F

    strs = ["", "a", "https://host0001.example/page/0", "x" * 7, "y" * 33, "héllo ✓"]
    got = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(s,) for s in strs], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    for s in strs:
        assert xxh64_str(s) == got[s]
    longs = [0, 1, -1, 2**62, -(2**62)]
    got2 = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in longs], "v long")
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    }
    for v in longs:
        assert xxh64_long(v) == got2[v]


def test_robots_longest_prefix():
    rules = [(0, True, "/", 0.0), (1, False, "/private/", 0.0), (2, True, "/private/ok", 0.0)]
    assert robots_allowed("/page/1", rules)
    assert not robots_allowed("/private/x", rules)
    assert robots_allowed("/private/ok/y", rules)  # longer allow wins
    assert robots_allowed("/anything", [])  # no rules -> allowed
    # tie -> allow
    tie = [(0, False, "/p/", 0.0), (1, True, "/p/", 0.0)]
    assert robots_allowed("/p/x", tie)


def test_bloom_roundtrip_and_fpr():
    rng = np.random.default_rng(42)
    nbits, nhash = 1 << 20, 5
    items = rng.integers(-(2**63), 2**63 - 1, size=20000, dtype=np.int64)
    bits = np.zeros(nbits // 8, dtype=np.uint8)
    _set_bits(bits, _positions(items, nbits, nhash))
    # zero false negatives
    assert _probe_bits(bits, _positions(items, nbits, nhash)).all()
    # false-positive rate near theoretical (~1.1% at n/m=0.019, k=5)
    probe = rng.integers(-(2**63), 2**63 - 1, size=20000, dtype=np.int64)
    fresh = probe[~np.isin(probe, items)]
    fpr = _probe_bits(bits, _positions(fresh, nbits, nhash)).mean()
    assert fpr < 0.05


def test_synth_doc_offsets_strictly_increasing():
    for url in [f"https://host{h:04d}.example/page/{p}" for h in range(5) for p in range(5)]:
        spans, _ = synth_doc(url, TINY)
        offs = [s[3] for s in spans]
        assert offs == sorted(offs) and len(set(offs)) == len(offs)
        for kind, text, media, _o in spans:
            assert (kind == "text") == (text is not None)
            assert (kind == "media") == (media is not None)


def test_no_per_row_python_gate():
    """BASELINE.json:15: vectorized Arrow UDFs only — ban F.udf and .rdd."""
    repo = Path(__file__).resolve().parent.parent
    banned = re.compile(r"(F\.udf\(|@udf\b|\.rdd\b|PandasUDFType)")
    for pkg in ("engine", "analytics"):
        for py in (repo / pkg).glob("*.py"):
            text = py.read_text()
            assert not banned.search(text), f"per-row Python or RDD usage in {py.name}"


def test_engine_defs_are_referenced():
    """Every top-level def, class and assigned name in engine/ and
    analytics/ is referenced by name at least once outside its own
    definition, in engine/, analytics/, tests/, tools/, perfbench/ or a
    root script: code no caller reaches is deleted, not kept."""
    repo = Path(__file__).resolve().parent.parent
    dirs = ("engine", "analytics", "tests", "tools", "perfbench")
    files = [p for d in dirs for p in (repo / d).glob("*.py")] + list(repo.glob("*.py"))
    texts = {p: p.read_text() for p in files}
    unreferenced = []
    for py in sorted(p for d in ("engine", "analytics") for p in (repo / d).glob("*.py")):
        for node in ast.parse(texts[py]).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                targets = [n for t in node.targets for n in ast.walk(t)]
                names = [n.id for n in targets if isinstance(n, ast.Name)]
            else:
                continue
            for name in names:
                word = re.compile(rf"\b{re.escape(name)}\b")
                own = len(word.findall(ast.get_source_segment(texts[py], node)))
                if sum(len(word.findall(t)) for t in texts.values()) == own:
                    unreferenced.append(f"{py.name}:{name}")
    assert not unreferenced, f"definitions nothing references: {unreferenced}"


def test_named_test_files_exist():
    """Every ``tests/test_*.py`` path named in a .py file under engine/,
    analytics/, tools/, pyref/ or the repo root exists, and a
    ``::name`` after it names a def in that file: a docstring that
    points at a test points at the real one."""
    repo = Path(__file__).resolve().parent.parent
    files = [p for d in ("engine", "analytics", "tools", "pyref") for p in (repo / d).glob("*.py")]
    files += list(repo.glob("*.py"))
    ref = re.compile(r"(tests/test_\w+\.py)(?:::(\w+))?")
    missing = []
    for py in sorted(files):
        for path, name in ref.findall(py.read_text()):
            target = repo / path
            if not target.exists() or (
                name and not re.search(rf"^def {name}\b", target.read_text(), re.M)
            ):
                missing.append(f"{py.relative_to(repo)}: {path}{'::' + name if name else ''}")
    assert not missing, f"references to tests that do not exist: {missing}"


def test_engine_options_are_set_by_a_caller():
    """Every keyword option of CrawlEngine.__init__ is set by a non-test
    caller (run_crawl.py, bench.py, perfbench/ or tools/): an option that
    only tests set is a knob nothing needs."""
    import inspect

    from engine.crawl import CrawlEngine

    repo = Path(__file__).resolve().parent.parent
    files = [repo / "run_crawl.py", repo / "bench.py"]
    files += list((repo / "perfbench").glob("*.py")) + list((repo / "tools").glob("*.py"))
    text = "\n".join(p.read_text() for p in files)
    params = inspect.signature(CrawlEngine.__init__).parameters.values()
    options = [p.name for p in params if p.kind is p.KEYWORD_ONLY]
    unset = [
        name
        for name in options
        if not re.search(rf"\b{name}\s*=(?!=)|[\"']{name}[\"']", text)
    ]
    assert options and not unset, f"CrawlEngine options no caller sets: {unset}"


def test_seed_ingest_from_text_file(spark, tmp_path):
    """SC2: spark.read.text seed source == in-memory seed source."""
    from engine.seed import seeds_to_frontier
    from engine.synthgraph import TINY, gen_seed_urls

    seeds = gen_seed_urls(TINY)
    p = tmp_path / "seeds.txt"
    p.write_text("\n".join(seeds) + "\n")
    via_file = seeds_to_frontier(spark, None, 64, seed_path=str(p))
    via_mem = seeds_to_frontier(spark, seeds, 64)
    assert sorted(r["url"] for r in via_file.collect()) == sorted(
        r["url"] for r in via_mem.collect()
    )


def test_engine_zip_packaging(tmp_path):
    """--py-files artifact contains every engine/analytics/pyref module."""
    import zipfile

    from tools.package import build

    out = build(tmp_path / "engine.zip")
    names = set(zipfile.ZipFile(out).namelist())
    assert "engine/crawl.py" in names
    assert "engine/frontier.py" in names
    assert "analytics/relational.py" in names
    assert "pyref/oracle.py" in names


def test_canonical_fast_path_is_sound():
    """Every URL CANONICAL_FAST_RE accepts must be a fixed point of
    canonicalize_url — otherwise the fast path would change the URL-seen
    set.  Checked over the full synthetic-graph link space + adversarial
    shapes; the messy variants must all be REJECTED by the regex."""
    import re

    from engine.canonicalize import CANONICAL_FAST_RE
    from engine.synthgraph import BENCH, _messify, synth_doc

    rx = re.compile(CANONICAL_FAST_RE)
    # full outlink alphabet of the synthetic graph
    urls = []
    for h in range(50):
        for p in range(20):
            u = f"https://host{h:04d}.example/page/{p}"
            urls.append(u)
            urls.append(_messify(u, p))
            _, links = synth_doc(u, BENCH)
            urls.extend(links)
    # adversarial: shapes the regex must reject (not fixed points)
    urls += [
        "https://host.example./page/1",       # trailing host dot
        "https://HOST.example/page/1",        # uppercase host
        "https://host.example:443/p",         # default port
        "https://host.example/a/../b",        # dot segments
        "https://host.example/p#frag",        # fragment
        "https://host.example/p?utm_source=x",  # query
        "https://u@host.example/p",           # userinfo
        "https://host.example/%7Eu",          # escapes
    ]
    n_fast = 0
    for u in urls:
        if rx.match(u):
            n_fast += 1
            assert canonicalize_url(u) == u, f"fast path not a fixed point: {u}"
    assert n_fast > len(urls) // 2  # the fast path actually covers the bulk


def test_probe_matches_numpy_reference(spark):
    """probe_filter's verdict equals a numpy probe of the built blobs
    (_probe_bits over _positions, per part_id) for every candidate row,
    including hashes with the sign bit set, whose uint64 view the bit
    positions depend on; with duplicated candidate rows and with unique
    ones, every input row comes back exactly once."""
    from engine import seen as seenmod

    rng = np.random.default_rng(7)
    n_parts, nbits, nhash = 8, 1 << 16, 5
    seeds = rng.integers(-(2**63), 2**63 - 1, size=4000, dtype=np.int64)
    seed_df = spark.createDataFrame([(int(h),) for h in seeds], "url_hash long")
    blobs = seenmod.init_filter(spark, seed_df, n_parts, nbits, nhash).persist()

    probe_hashes = np.concatenate(
        [seeds[:1000], rng.integers(-(2**63), 2**63 - 1, size=3000, dtype=np.int64)]
    )
    want = {}
    for r in blobs.collect():
        h = probe_hashes[probe_hashes % n_parts == r["part_id"]]
        bits = np.frombuffer(r["bits"], dtype=np.uint8)
        want.update(zip(h.tolist(), _probe_bits(bits, _positions(h, nbits, nhash)).tolist()))
    assert len(want) == len(probe_hashes)
    assert not all(want.values()), "reference must reject some fresh hashes"

    unique = [(int(h), f"u{i}") for i, h in enumerate(probe_hashes)]
    duplicated = unique + [(h, url + "-dup") for h, url in unique[::4]]
    for rows_in in (duplicated, unique):
        cands = spark.createDataFrame(rows_in, "url_hash long, url string")
        rows = seenmod.probe_filter(cands, blobs, n_parts).collect()
        assert sorted((r["url_hash"], r["url"]) for r in rows) == sorted(rows_in)
        for r in rows:
            assert r["maybe_seen"] == want[r["url_hash"]], r
        # bloom: no false negatives on seeded hashes
        seen_rows = {r["url_hash"]: r["maybe_seen"] for r in rows}
        assert all(seen_rows[int(h)] for h in seeds[:1000])
    blobs.unpersist()


def test_front_window_names_all_resolve():
    """Every name in the driver-window front-registration list must be a
    registered query — a typo silently falls out of the 50-slot window
    (queries() pops only names it finds)."""
    import __spark_entry__ as se

    registered = set()
    for mod in se._MODULES:
        registered |= set(mod.QUERIES)
    missing = [n for n in se._FRONT if n not in registered]
    assert not missing, f"front-window names not registered: {missing}"
    assert len(se._FRONT) == len(set(se._FRONT)), "duplicate front entries"
    assert len(se._FRONT) == 50
