"""The mutation seam of plans/ingest.py: every delete goes through
``_delete`` and every manifest write through ``_drop_manifest_rows`` /
``_reconcile_manifests`` (or ``ingest_batch``'s commit). A source guard
pins that, and a crash-point matrix injects a failure at each seam
mutation of each maintenance verb, retries the verb, and requires the
state directory to equal the uncrashed run's."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import time

import pytest
from pyspark.sql import functions as F

from docling_jobkit_spark.operators.bloom_index import (
    read_bloom_index,
    write_bloom_index,
)
from docling_jobkit_spark.operators.zonemap import (
    _canon,
    read_zonemap,
    write_zonemap,
)
from docling_jobkit_spark.plans import ingest
from docling_jobkit_spark.plans.ingest import (
    _FAMILIES,
    _TMP_FAMILIES,
    IngestConfig,
    compact_ingest_batch,
    expire_batch_payload,
    ingest_batch,
    rollback_batch,
    vacuum_ingest_state,
)
from docling_jobkit_spark.sinks.maintenance import (
    _list_parquet_files,
    content_signature,
)

# both zone-map columns, and corpus batches that span several files
CFG = IngestConfig(zonemap_cols=("n_chars", "doc_id"), max_records_per_file=16)
_SEAM = ("_delete", "write_zonemap", "write_bloom_index")


def _calls_outside(tree: ast.AST, names: set[str], allowed: set[str]) -> list[str]:
    """Loads of a name (or ``.name(`` attribute calls) outside the
    top-level functions in ``allowed``, as "<function>:<line>"."""
    bad = []
    for fn in tree.body:
        where = fn.name if isinstance(fn, ast.FunctionDef) else "<module>"
        if where in allowed:
            continue
        for node in ast.walk(fn):
            hit = (
                isinstance(node, ast.Name)
                and isinstance(node.ctx, ast.Load)
                and node.id in names
            ) or (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in names
            )
            if hit:
                bad.append(f"{where}:{node.lineno}")
    return bad


def test_ingest_mutations_go_through_the_seam():
    tree = ast.parse(pathlib.Path(ingest.__file__).read_text())
    assert _calls_outside(tree, {"delete"}, {"_delete"}) == []
    assert _calls_outside(
        tree,
        {"write_zonemap", "write_bloom_index"},
        {"_drop_manifest_rows", "_reconcile_manifests", "ingest_batch"},
    ) == []


# -- crash-point matrix ------------------------------------------------


class _Crash(Exception):
    pass


def _docs(spark, sf_dir, cls):
    import __spark_entry__ as e

    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 4 == cls)
        .withColumn("url", e._synth_url())
        .select("doc_id", "url", "text")
    )


@pytest.fixture(scope="module")
def base_state(spark, sf_dir, tmp_path_factory):
    """Two committed batches; b2 spans several corpus files."""
    root = str(tmp_path_factory.mktemp("seam") / "base")
    ingest_batch(spark, _docs(spark, sf_dir, 1), root, "b1", config=CFG)
    ingest_batch(spark, _docs(spark, sf_dir, 2), root, "b2", config=CFG)
    assert len(_list_parquet_files(spark, f"{root}/corpus/batch=b2")) > 1
    return root


def _plant_debris(root: str) -> None:
    """A torn commit (family dirs without a ledger marker), an
    incomplete compaction tmp, and a certified takedown tmp that vacuum
    must keep — all an hour old, past any age guard."""
    dirs = [f"{fam}/batch=torn" for fam in ("corpus", "seen", "ledger")]
    dirs += ["corpus_compact/batch=b1", "corpus_takedown/batch=b0"]
    old = time.time() - 3600
    for rel in dirs:
        d = pathlib.Path(root) / rel
        d.mkdir(parents=True)
        (d / "part-00000.parquet").write_bytes(b"\x00junk")
        if rel.startswith("corpus_takedown"):
            (d / "_SUCCESS").write_bytes(b"")
        os.utime(d, (old, old))


# verb -> (prepare(root), run(spark, root), seam calls of an uncrashed run)
VERBS = {
    "rollback": (None, lambda s, r: rollback_batch(s, r, "b2"), 8),
    "expire": (None, lambda s, r: expire_batch_payload(s, r, "b1"), 4),
    "compact": (None, lambda s, r: compact_ingest_batch(s, r, "b2"), 3),
    "vacuum": (
        _plant_debris,
        lambda s, r: vacuum_ingest_state(s, r, min_age_seconds=0),
        4,
    ),
}
CASES = [(v, k) for v, (_p, _r, n) in VERBS.items() for k in range(1, n + 2)]


def _sig(spark, family_root: str):
    """content_signature over every data file under ``family_root``,
    keyed on (batch, content_hash) — row moves between batches count."""
    files = [p for p, _ in _list_parquet_files(spark, family_root)]
    if not files:
        return (0, 0)
    df = spark.read.option("basePath", family_root).parquet(*files)
    keyed = df.select(
        F.concat_ws("/", F.col("batch").cast("string"), "content_hash").alias("k")
    )
    return content_signature(keyed, key_col="k")


def _manifest(spark, path: str, read, col_field: str, on_disk: set[str]):
    """(matches the corpus files on disk, {indexed column: n files})."""
    m = read(spark, path)
    files = {r["file"] for r in m.select("file").distinct().collect()}
    per_col = m.groupBy(col_field).agg(F.countDistinct("file").alias("n"))
    return files == on_disk, {r[0]: r["n"] for r in per_col.collect()}


def _state(spark, root: str) -> dict:
    on_disk = {_canon(p) for p, _ in _list_parquet_files(spark, f"{root}/corpus")}
    return {
        "dirs": {
            fam: sorted(os.listdir(f"{root}/{fam}"))
            for fam in _FAMILIES + _TMP_FAMILIES
            if os.path.isdir(f"{root}/{fam}")
        },
        "corpus": _sig(spark, f"{root}/corpus"),
        "seen": _sig(spark, f"{root}/seen"),
        "zonemap": _manifest(spark, f"{root}/zonemap", read_zonemap, "col", on_disk),
        "bloom": _manifest(
            spark, f"{root}/bloomidx", read_bloom_index, "column", on_disk
        ),
    }


def _fresh(spark, base: str, tmp_path, verb: str) -> str:
    """A copy of the base state. The manifests name files by absolute
    URI, so the copy's manifests are re-pointed at the copy."""
    root = str(tmp_path / verb)
    shutil.copytree(base, root)
    old_prefix, new_prefix = (f"file:///{d.lstrip('/')}/" for d in (base, root))
    for path, read, write in (
        (f"{root}/zonemap", read_zonemap, write_zonemap),
        (f"{root}/bloomidx", read_bloom_index, write_bloom_index),
    ):
        moved = read(spark, path).withColumn(
            "file", F.replace("file", F.lit(old_prefix), F.lit(new_prefix))
        )
        write(moved.localCheckpoint(eager=True), path)
    prepare = VERBS[verb][0]
    if prepare:
        prepare(root)
    return root


@pytest.fixture(scope="module")
def reference(spark, base_state, tmp_path_factory):
    """verb -> the state after one uncrashed run, computed on first use."""
    cache: dict[str, dict] = {}

    def get(verb: str) -> dict:
        if verb not in cache:
            root = _fresh(spark, base_state, tmp_path_factory.mktemp("ref"), verb)
            VERBS[verb][1](spark, root)
            st = _state(spark, root)
            assert st["zonemap"][0] and st["bloom"][0], "uncrashed manifests drifted"
            assert set(st["zonemap"][1]) == {"doc_id", "n_chars"}
            cache[verb] = st
        return cache[verb]

    return get


@pytest.mark.parametrize("verb,k", CASES, ids=[f"{v}-{k}" for v, k in CASES])
def test_crash_at_kth_mutation_then_retry_equals_uncrashed(
    spark, base_state, reference, tmp_path, monkeypatch, verb, k
):
    """Case k raises before the k-th seam mutation (k = n + 1: no crash,
    so the retry is a second run of a finished verb) and then retries."""
    want = reference(verb)
    _prepare, run, n = VERBS[verb]
    root = _fresh(spark, base_state, tmp_path, verb)

    calls: list[str] = []
    with monkeypatch.context() as m:
        for name in _SEAM:
            real = getattr(ingest, name)

            def armed(*args, _real=real, _name=name, **kwargs):
                calls.append(_name)
                if len(calls) == k:
                    raise _Crash(f"injected before {_name} (call {k})")
                return _real(*args, **kwargs)

            m.setattr(ingest, name, armed)
        try:
            run(spark, root)
            crashed = False
        except _Crash:
            crashed = True
    assert crashed == (k <= n)
    if k > n:
        assert len(calls) == n, f"uncrashed {verb} made {calls}"

    run(spark, root)
    assert _state(spark, root) == want
