"""The r13 table-loader memos: schema cache + per-session tune.

`load_table` memoizes the inferred parquet schema per
(sf_dir, table, data fingerprint) so repeat loads skip the footer
inference round trip; the memo must (a) serve the identical schema,
(b) key on the data fingerprint so a rewritten table re-infers, and
(c) never leak across sf dirs. `tune` applies its session invariants
once per live session object.
"""

from __future__ import annotations

import shutil

import engine.session as S
from engine.session import load_table, tiny_df

from .conftest import SF_ORACLE, SF_SMOKE


def test_schema_memo_identical_schema_and_rows(spark):
    a = load_table(spark, SF_SMOKE, "nation")  # may infer or hit memo
    b = load_table(spark, SF_SMOKE, "nation")  # memo hit
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_schema_memo_is_per_sf_dir(spark):
    lo = load_table(spark, SF_SMOKE, "lineitem")
    hi = load_table(spark, SF_ORACLE, "lineitem")
    assert lo.schema == hi.schema  # same layout, distinct memo entries
    fp_lo = S.data_fingerprint(SF_SMOKE, "lineitem")
    fp_hi = S.data_fingerprint(SF_ORACLE, "lineitem")
    assert (SF_SMOKE, "lineitem", fp_lo) in S._TABLE_SCHEMA_CACHE
    assert (SF_ORACLE, "lineitem", fp_hi) in S._TABLE_SCHEMA_CACHE


def test_schema_memo_invalidates_on_rewrite(spark, tmp_path):
    sf = str(tmp_path)
    src = tiny_df(spark, [(1, "a")], "k int, v string")
    src.write.mode("overwrite").parquet(f"{sf}/nation.parquet")
    first = load_table(spark, sf, "nation")
    assert [f.name for f in first.schema.fields] == ["k", "v"]
    # rewrite with a DIFFERENT schema: the fingerprint key must force a
    # fresh inference, not serve the stale memo
    shutil.rmtree(f"{sf}/nation.parquet")
    tiny_df(spark, [(1, "a", 2.0)], "k int, v string, w double").write.parquet(
        f"{sf}/nation.parquet"
    )
    second = load_table(spark, sf, "nation")
    assert [f.name for f in second.schema.fields] == ["k", "v", "w"]


def test_events_loader_memoized_and_typed(spark):
    from pyspark.sql.types import TimestampType

    a = S.load_events(spark, SF_SMOKE)
    b = S.load_events(spark, SF_SMOKE)
    assert isinstance(a.schema["ts"].dataType, TimestampType)
    assert a.schema == b.schema
    key = (SF_SMOKE, "events", S.data_fingerprint(SF_SMOKE, "events"))
    assert key in S._TABLE_SCHEMA_CACHE


def test_tune_applies_once_per_session(spark):
    S.tune(spark)
    assert spark in S._TUNED_SESSIONS
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # second call is the memo path (no conf mutation to observe beyond
    # the invariants already holding)
    S.tune(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_tiny_df_one_partition(spark):
    df = tiny_df(spark, [(i,) for i in range(5)], "x int")
    assert df.rdd.getNumPartitions() == 1
    assert [r["x"] for r in df.collect()] == [0, 1, 2, 3, 4]
    empty = tiny_df(spark, [], "x int, y long")
    assert empty.count() == 0 and len(empty.schema) == 2


def _write_zip(path, modules: dict) -> None:
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_pyworker_rereads_zip_only_when_it_changes(monkeypatch, tmp_path):
    import importlib
    import sys
    import zipimport

    import engine.pyworker as W

    # install() patches process-wide; register the originals for restore
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(W, "_STAMPS", {})
    W.install()
    archive = tmp_path / "pyworker_mods.zip"
    _write_zip(archive, {"pyworker_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("pyworker_mod_a", "pyworker_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pyworker_mod_a").X == 1
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or real(a)
    )
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []  # unchanged archive: no directory read at all

    # a rewritten archive (new module, new size) is read again, once
    _write_zip(archive, {"pyworker_mod_a": "X = 1\n", "pyworker_mod_b": "Y = 2\n"})
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("pyworker_mod_b").Y == 2


def test_get_spark_runs_python_workers_from_engine_daemon(spark):
    import pandas as pd

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "engine.pyworker"

    def patched_in_worker(batches):
        import zipimport

        for pdf in batches:
            name = zipimport.zipimporter.invalidate_caches.__name__
            yield pd.DataFrame({"id": pdf["id"], "fn": name})

    rows = (
        tiny_df(spark, [(i,) for i in range(3)], "id long")
        .mapInPandas(patched_in_worker, "id long, fn string")
        .collect()
    )
    assert sorted(r["id"] for r in rows) == [0, 1, 2]
    assert {r["fn"] for r in rows} == {"_cached_invalidate_caches"}
