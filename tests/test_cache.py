"""The persist/release lifecycle: ``cache.py`` owns every persist and
release in the package, and its scopes decide when a frame is released.
More grep guards pin ``run_stream`` as the package's one stream starter,
``blocking.bucket_pairs`` as its one bucket self-join, and the blocking and
scoring modules as the one home of the name-blocking rule and the name
scorer; an import walk pins that every package module is reached."""

import ast
import pathlib
import re
import sys
import threading

import linkorgs_software_spark
from linkorgs_software_spark import cache, release_caches, scoped_caches

PKG = pathlib.Path(linkorgs_software_spark.__file__).parent
_STORAGE_CALL = re.compile(r"\.persist\(|\.cache\(\)|\.unpersist\(|StorageLevel")


def test_cache_module_is_the_only_persist_site():
    """No module but ``cache.py`` persists, caches, unpersists or picks a
    storage level: every persisted frame is tracked by one registry."""
    hits = [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "cache.py" or path.parent != PKG
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _STORAGE_CALL.search(line)
    ]
    assert not hits, "\n".join(hits)


def test_run_stream_is_the_only_stream_starter():
    """No package code outside ``streaming.incremental.run_stream`` touches
    ``writeStream``: every stream starts with one checkpoint and trigger
    handling."""
    starter = pathlib.Path("streaming", "incremental.py")
    source = (PKG / starter).read_text()
    fn = next(
        n for n in ast.parse(source).body
        if isinstance(n, ast.FunctionDef) and n.name == "run_stream"
    )
    inside = range(fn.lineno, fn.end_lineno + 1)
    assert any("writeStream" in source.splitlines()[n - 1] for n in inside)
    hits = [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "writeStream" in line
        and not (path.relative_to(PKG) == starter and n in inside)
    ]
    assert not hits, "\n".join(hits)


_SELF_JOIN = re.compile(r'\.alias\("a"\)\s*\.join\(')


def _enclosing_function(source: str, lineno: int) -> str | None:
    fns = [
        n for n in ast.walk(ast.parse(source))
        if isinstance(n, ast.FunctionDef) and n.lineno <= lineno <= n.end_lineno
    ]
    return min(fns, key=lambda n: n.end_lineno - n.lineno).name if fns else None


def test_bucket_pairs_is_the_only_bucket_self_join():
    """Every near-dup candidate self-join goes through
    ``blocking.bucket_pairs`` (cap, join on the key, ``id_a < id_b``, one
    row per pair). The one exception is ``corpus.source_overlap``, which
    counts shared keys per source pair instead of emitting id pairs."""
    allowed = {
        (pathlib.Path("operators", "blocking.py"), "bucket_pairs"),
        (pathlib.Path("operators", "corpus.py"), "source_overlap"),
    }
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        source = path.read_text()
        for m in _SELF_JOIN.finditer(source):
            lineno = source.count("\n", 0, m.start()) + 1
            found.add((path.relative_to(PKG), _enclosing_function(source, lineno)))
    assert found == allowed, sorted(found ^ allowed)


def test_one_name_blocking_rule_and_one_name_scorer():
    """The shared-gram rule (``cfg.min_shared_frac``) is applied only in
    ``operators/blocking.py``, the per-name jaccard distance
    (``jaccard_dist_from_sizes_expr``) is called only in
    ``operators/scoring.py``, and a side's scoring sets (``name_sets``) are
    built only by ``scoring.index_side`` and for the resolver's entity
    alias rows, which are scored as listed, never deduplicated by
    ``alias_id`` (the ``compact_directory`` crash window). Catalog tables
    over directories are created, registered and repaired only in
    ``streaming/history.py`` (``sources/tables.py`` is the Iceberg table
    seam, unreached and kept). Token windows are sliced only in
    ``functions/text.py`` (``token_windows_expr``, ``word_shingles_expr``);
    ``ann.ivf_topk`` slices its top centroids, not windows. A home is a
    module, or one function in it."""
    blocking, scoring = pathlib.Path("operators", "blocking.py"), pathlib.Path("operators", "scoring.py")
    tables = {(pathlib.Path("streaming", "history.py"), None), (pathlib.Path("sources", "tables.py"), None)}
    homes = {
        "cfg.min_shared_frac": {(blocking, None)},
        "jaccard_dist_from_sizes_expr(": {(scoring, None)},
        "name_sets(": {(scoring, "index_side"), (pathlib.Path("streaming", "resolve.py"), "resolve_batch")},
        "saveAsTable(": tables,
        "insertInto(": tables,
        "tableExists(": tables,
        "MSCK": tables,
        "F.slice(": {(pathlib.Path("functions", "text.py"), None), (pathlib.Path("operators", "ann.py"), "ivf_topk")},
    }
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel, source = path.relative_to(PKG), path.read_text()
        for n, line in enumerate(source.splitlines(), 1):
            for needle, home in homes.items():
                if needle not in line or line.lstrip().startswith("def ") or (rel, None) in home:
                    continue
                if (rel, _enclosing_function(source, n)) not in home:
                    hits.append(f"{rel}:{n}: {line.strip()}")
    assert not hits, "\n".join(hits)


# package modules that nothing reaches yet, each kept for the reason given
_UNREACHED_KEPT = {
    "sources.csv": "reference CSV input parity (COVERAGE S3); ROADMAP keeps it",
    "session": "ROADMAP deletion candidate, not yet decided",
    "sources.tables": "ROADMAP deletion candidate, not yet decided",
}


def _module_name(path: pathlib.Path, root: pathlib.Path) -> str:
    parts = path.relative_to(root).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_names(path: pathlib.Path, package: str) -> set[str]:
    """Dotted names ``path`` imports anywhere in its body (function-level
    imports included), relative imports resolved against ``package``;
    ``from a import b`` yields both ``a`` and ``a.b``."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = package.rsplit(".", node.level - 1)[0]
                base = f"{parent}.{base}" if base else parent
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def test_every_package_module_is_reached():
    """Every package module is imported, directly or through other package
    modules, from a package ``__init__``, the driver entry, ``bench.py`` or
    a ``linkbench`` module: code that no export, driver query, bench leaf
    or benchmark workload reaches is deleted, or kept in
    ``_UNREACHED_KEPT`` with its reason."""
    repo = PKG.parent
    modules = {_module_name(p, repo): p for p in PKG.rglob("*.py")}
    todo = [
        *PKG.rglob("__init__.py"),
        repo / "__spark_entry__.py",
        repo / "bench.py",
        *(repo / "linkbench").glob("*.py"),
    ]
    seen = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        name = _module_name(path, repo)
        package = name if path.name == "__init__.py" else name.rpartition(".")[0]
        todo += [modules[n] for n in _imported_names(path, package) if n in modules]
    unreached = {_module_name(p, PKG) for p in modules.values() if p not in seen}
    assert unreached == set(_UNREACHED_KEPT), sorted(unreached ^ set(_UNREACHED_KEPT))


def test_scopes_release_their_own_frames(spark, stored_rdds):
    """A scope releases what was persisted inside it, nested scopes and the
    call lifetime included; a scope open on one thread does not capture
    another thread's persists, which join the session list."""
    release_caches()
    before = stored_rdds()
    with scoped_caches():
        outer = cache.persist(spark.range(11))
        with scoped_caches():
            cache.persist(spark.range(12)).count()
        outer.count()
        assert len(stored_rdds() - before) == 1  # the inner frame is gone
        t = threading.Thread(target=lambda: cache.persist(spark.range(13)))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
    assert stored_rdds() <= before

    with cache.call_caches():
        cache.persist(spark.range(14)).count()
    assert len(stored_rdds() - before) == 1  # outlives its block
    with cache.call_caches():
        cache.persist(spark.range(15)).count()
    assert len(stored_rdds() - before) == 1  # the next block released it
    assert release_caches() == 2  # the thread's frame and the last call's
    assert stored_rdds() <= before


def test_concurrent_persists_are_all_tracked(spark):
    """Threads persisting at once into the session list lose no entry."""
    n_threads, per_thread = 8, 20
    release_caches()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(
                target=lambda t=t: [cache.persist(spark.range(t * per_thread + i + 1)) for i in range(per_thread)]
            )
            for t in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert release_caches() == n_threads * per_thread
