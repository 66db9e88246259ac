"""Stratified/reservoir sampling determinism and the CSV/JSON
source↔sink round trips."""

import hashlib

import pytest
from pyspark.sql import functions as F

from conduino_spark import (
    from_dataframe, read_csv, read_json, reservoir_per_key, run_pipe,
    sink_csv, sink_df, sink_json, stratified_sample,
)

_SPACE = 1 << 32


def _h32(s: str) -> int:
    """Driver-side replica of functions.hashing.h32."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _docs(spark):
    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(300)]
    rows += [(300, None), (None, "en")]          # NULL stratum / NULL key
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_stratified_sample_matches_hash_rule(spark):
    df = _docs(spark)
    st = stratified_sample("lang", "doc_id", {"en": 0.5, "de": 1.0},
                           default=0.0)
    got = sorted(r.doc_id for r in run_pipe(
        from_dataframe(df) | st | sink_df(), spark).collect())

    cuts = {"en": int(0.5 * _SPACE), "de": _SPACE, "fr": 0}
    want = sorted(
        i for i in range(300)
        if _h32(str(i)) < cuts[["en", "de", "fr"][i % 3]])
    assert got == want
    # all 'de' kept, no 'fr' kept, NULLs dropped
    assert all(i % 3 == 1 for i in got if i % 3 != 0) or True
    assert {i for i in got if i % 3 == 1} == {i for i in range(300) if i % 3 == 1}
    assert not any(i % 3 == 2 for i in got)
    assert 300 not in got and None not in got


def test_stratified_sample_scalar_fraction_and_salt(spark):
    df = _docs(spark).where(F.col("doc_id").isNotNull()
                            & F.col("lang").isNotNull())
    base = {r.doc_id for r in run_pipe(
        from_dataframe(df) | stratified_sample("lang", "doc_id", 0.3)
        | sink_df(), spark).collect()}
    want = {i for i in range(300) if _h32(str(i)) < int(0.3 * _SPACE)}
    assert base == want
    salted = {r.doc_id for r in run_pipe(
        from_dataframe(df) | stratified_sample("lang", "doc_id", 0.3,
                                               salt="s1")
        | sink_df(), spark).collect()}
    assert salted == {i for i in range(300)
                      if _h32("s1" + str(i)) < int(0.3 * _SPACE)}
    assert salted != base                         # decorrelated

    with pytest.raises(ValueError):
        stratified_sample("lang", "doc_id", 1.5)
    with pytest.raises(ValueError):
        stratified_sample("lang", "doc_id", {"en": -0.1})


def test_reservoir_per_key_caps_groups_deterministically(spark):
    rows = [(i, "g%d" % (i % 4)) for i in range(100)]   # 4 groups of 25
    rows += [(100, "tiny")]                             # |group| < n
    df = spark.createDataFrame(rows, "doc_id long, grp string")

    out = run_pipe(from_dataframe(df)
                   | reservoir_per_key("grp", 5, order_key="doc_id")
                   | sink_df(), spark)
    got = {(r.grp, r.doc_id) for r in out.collect()}
    by_grp = {}
    for g, i in got:
        by_grp.setdefault(g, set()).add(i)
    assert {g: len(v) for g, v in by_grp.items()} == {
        "g0": 5, "g1": 5, "g2": 5, "g3": 5, "tiny": 1}

    # selection = the 5 smallest (h32(key), key) per group — replicated
    for g in ["g0", "g1", "g2", "g3"]:
        members = [i for i in range(100) if "g%d" % (i % 4) == g]
        want = set(sorted(members,
                          key=lambda i: (_h32(str(i)), str(i)))[:5])
        assert by_grp[g] == want

    # deterministic across runs; different under a salt
    again = {(r.grp, r.doc_id) for r in run_pipe(
        from_dataframe(df) | reservoir_per_key("grp", 5, order_key="doc_id")
        | sink_df(), spark).collect()}
    assert again == got
    salted = {(r.grp, r.doc_id) for r in run_pipe(
        from_dataframe(df)
        | reservoir_per_key("grp", 5, order_key="doc_id", salt="x")
        | sink_df(), spark).collect()}
    assert salted != got

    with pytest.raises(ValueError):
        reservoir_per_key("grp", 0)


def test_csv_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a,b", 1.5), (2, None, -0.25), (3, "c\nd", 0.0)],
        "id long, s string, x double")
    path = str(tmp_path / "csv_out")
    run_pipe(from_dataframe(df) | sink_csv(path), spark)

    back = run_pipe(
        read_csv(path, schema="id long, s string, x double",
                 multiLine=True, seq_col="id") | sink_df(), spark)
    assert sorted(tuple(r) for r in back.select("id", "s", "x").collect()) \
        == sorted(tuple(r) for r in df.collect())


def test_json_round_trip_and_partitioned_parquet(spark, tmp_path):
    from conduino_spark import read_parquet, sink_parquet

    df = spark.createDataFrame(
        [(1, ["x", "y"], {"k": 1}), (2, [], None)],
        "id long, arr array<string>, m map<string, long>")
    jpath = str(tmp_path / "json_out")
    run_pipe(from_dataframe(df) | sink_json(jpath), spark)
    back = run_pipe(read_json(
        jpath, schema="id long, arr array<string>, m map<string, long>",
        seq_col="id") | sink_df(), spark)
    assert sorted((r.id, tuple(r.arr), r.m) for r in back.collect()) \
        == sorted((r.id, tuple(r.arr), r.m) for r in df.collect())

    # partitioned parquet write -> filter on the partition column prunes
    pdf = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, part int")
    ppath = str(tmp_path / "part_out")
    run_pipe(from_dataframe(pdf)
             | sink_parquet(ppath, partition_by=["part"]), spark)
    got = spark.read.parquet(ppath).where(F.col("part") == 1)
    assert sorted(r.id for r in got.collect()) \
        == [i for i in range(30) if i % 3 == 1]
    # a directory keeps plain inference, partition column included
    for _ in range(2):
        assert sorted(read_parquet(ppath).df(spark).columns) == ["id", "part"]
    import io
    import contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    scan = buf.getvalue().split("Scan parquet")[-1]
    assert "part" in scan.split("PartitionFilters:")[1].splitlines()[0]


# -- read_parquet: footer-keyed schema memo ------------------------------

def _next_job_id(spark):
    """The id the next Spark job will get (the scheduler's counter,
    read synchronously: the status tracker lags behind the listener
    bus)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _write(path, table):
    import pyarrow.parquet as pq

    pq.write_table(table, str(path))
    return str(path)


def test_read_parquet_second_build_launches_no_job(spark, tmp_path):
    import pyarrow as pa

    from conduino_spark import read_parquet

    p = _write(tmp_path / "t.parquet", pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "s": ["a", None, "c"],
        "x": pa.array([0.5, None, -1.0], pa.float64()),
        "arr": pa.array([[1], [], None], pa.list_(pa.int32())),
    }))
    read_parquet(p).df(spark)
    before = _next_job_id(spark)
    df = read_parquet(p).df(spark)
    assert _next_job_id(spark) == before
    ref = spark.read.parquet(p)
    assert df.schema == ref.schema
    assert sorted(map(str, df.collect())) == sorted(map(str, ref.collect()))


def test_read_parquet_memo_under_concurrent_arms(spark, tmp_path,
                                                 monkeypatch):
    """Pipeline arms build their sources on parallel threads: with a
    memo smaller than the file set, hits, misses and evictions race,
    and every read must still get its own file's schema."""
    import sys
    import threading

    import pyarrow as pa

    from conduino_spark import read_parquet, sources

    monkeypatch.setattr(sources, "_PARQUET_SCHEMA_MEMO_SIZE", 2)
    want = {}
    for i in range(4):
        p = _write(tmp_path / f"t{i}.parquet",
                   pa.table({f"c{i}": pa.array([i], pa.int64())}))
        want[p] = [(f"c{i}", "bigint")]
    paths, errors = list(want), []

    def arm(k):
        try:
            for j in range(6):
                p = paths[(k + j) % len(paths)]
                assert read_parquet(p).df(spark).dtypes == want[p], p
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=arm, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    assert len(sources._parquet_schemas) <= 2


def test_read_parquet_memo_follows_overwritten_schema(spark, tmp_path):
    import pyarrow as pa

    from conduino_spark import read_parquet

    p = tmp_path / "t.parquet"
    _write(p, pa.table({"id": pa.array([1, 2], pa.int64())}))
    assert read_parquet(str(p)).df(spark).dtypes == [("id", "bigint")]
    _write(p, pa.table({"id": pa.array([1.5], pa.float64()),
                        "tag": ["new"]}))
    df = read_parquet(str(p)).df(spark)
    assert df.dtypes == [("id", "double"), ("tag", "string")]
    assert df.schema == spark.read.parquet(str(p)).schema
    assert [tuple(r) for r in df.collect()] == [(1.5, "new")]
    # a footer pyarrow cannot read is left to Spark, which reports it
    p.write_bytes(b"not parquet")
    with pytest.raises(Exception) as err:
        read_parquet(str(p)).df(spark)
    assert not isinstance(err.value, pa.ArrowException)


def test_read_parquet_memo_keys_on_type_mapping_confs(spark, tmp_path):
    import pyarrow as pa

    from conduino_spark import read_parquet

    p = _write(tmp_path / "b.parquet",
               pa.table({"b": pa.array([b"ab", b"c"], pa.binary())}))
    conf = "spark.sql.parquet.binaryAsString"
    assert read_parquet(p).df(spark).dtypes == [("b", "binary")]
    spark.conf.set(conf, "true")
    try:
        df = read_parquet(p).df(spark)
        assert df.dtypes == [("b", "string")]
        assert sorted(r.b for r in df.collect()) == ["ab", "c"]
    finally:
        spark.conf.unset(conf)
    assert read_parquet(p).df(spark).dtypes == [("b", "binary")]


def test_read_table_events_ts_normalised_on_memo_hit(spark, sf_dir):
    from conduino_spark import read_table

    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    first = read_table(sf_dir, "events").df(spark)
    before = _next_job_id(spark)
    again = read_table(sf_dir, "events").df(spark)
    assert _next_job_id(spark) == before
    assert dict(first.dtypes)["ts"] == dict(again.dtypes)["ts"] == "timestamp"
    assert first.agg(F.min("ts"), F.max("ts")).first() \
        == again.agg(F.min("ts"), F.max("ts")).first()


def test_read_parquet_min_partitions_on_escaped_path(spark, tmp_path):
    """A path with a space reaches ``inputFiles()`` as ``%20``; the split
    estimate must still find the file and skip the repartition."""
    import pyarrow as pa

    from conduino_spark import read_parquet

    d = tmp_path / "a b"
    (d / "dir").mkdir(parents=True)
    t = pa.table({"id": pa.array(range(10), pa.int64())})
    single = _write(d / "x.parquet", t)
    _write(d / "dir" / "part-0.parquet", t)
    for path in (single, str(d / "dir")):
        df = read_parquet(path, min_partitions=1).df(spark)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, path
        assert df.count() == 10
