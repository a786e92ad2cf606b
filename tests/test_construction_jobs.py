"""Building a query plans it and starts no Spark job it can avoid.

Every job a ``q_*`` call starts runs before the caller's action, on the
driver path, and at small scale it costs more than the query. The
registry below names the queries whose construction runs a driver action
on purpose, with the job count it takes at sf0.001; every other query
must build with none. An entry whose query starts fewer jobs than listed,
or that names no query, is stale and fails too.

``__spark_entry__._read_parquet`` makes the zero possible: it reads
the schema of each table, and of the stats sidecar directory, from the
parquet footer instead of letting Spark run a job to infer it. The
schema tests pin that the footer read gives Spark's own schema.
"""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

CONSTRUCTION_JOBS = {
    # localCheckpoint(eager=False) under AQE runs the query stages below
    # it when called: a signature checkpoint runs the spread
    # repartition's shuffle stage (over the plain reader it starts none),
    # and verify's candidate checkpoint runs those of the MinHash
    # candidate plan
    "minhash_candidates": (1, "the signature checkpoint runs the spread repartition's shuffle stage"),
    "simhash_near_dups": (1, "the fingerprint checkpoint runs the spread repartition's shuffle stage"),
    "dedup_pipeline": (5, "the signature checkpoint, then the candidate plan under verify's checkpoint"),
    "dedup_clusters": (5, "as dedup_pipeline; connected_components starts none"),
    "cms_heavy_hitters": (4, "cms_estimate's depth/width probe aggregates the sketch"),
    "knn_topk": (1, "fetches the query vector"),
    "ivf_knn": (3, "fetches the query vector, then collects train_ivf_centroids' sample"),
    "lsh_ann_pairs": (1, "reads one embedding for the vector length"),
}


def test_query_construction_jobs_match_the_registry(spark):
    queries = entry.queries()
    # a stale stats sidecar is rebuilt on the first build that needs it:
    # bring it up to date first so the counts are those of a warm call
    entry._fullreport_sidecar(spark, SF)
    sc = spark.sparkContext
    try:
        for name, fn in queries.items():
            sc.setJobGroup(f"construct-{name}", name)
            fn(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the listener bus, which runs behind
    # the jobs themselves: drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    actual = {name: len(sc.statusTracker().getJobIdsForGroup(f"construct-{name}")) for name in queries}
    allowed = {name: CONSTRUCTION_JOBS.get(name, (0, ""))[0] for name in queries}
    over = {name: (actual[name], allowed[name]) for name in queries if actual[name] > allowed[name]}
    stale = {
        name: (actual.get(name), count)
        for name, (count, _why) in CONSTRUCTION_JOBS.items()
        if name not in queries or actual[name] < count
    }
    assert over == {}, f"queries starting more construction jobs than allowed (actual, allowed): {over}"
    assert stale == {}, f"registry entries above the actual count or naming no query: {stale}"


def test_table_reader_schema_is_sparks_own(spark):
    for path in sorted(glob.glob(f"{SF}/*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        assert entry._t(spark, SF, name).schema == spark.read.parquet(path).schema, name
    # the stats sidecar is a Spark-written directory: part files beside _SUCCESS
    side = entry._fullreport_sidecar(spark, SF)
    assert entry._read_parquet(spark, side).schema == spark.read.parquet(side).schema


def test_table_reader_keeps_ntz_apart_from_ltz(spark, tmp_path):
    """A tz-less timestamp reads as TimestampNTZ and a UTC one as
    TimestampType, as in Spark's own inference; pyspark's arrow mapping
    alone would make both TimestampType."""
    pq.write_table(
        pa.table(
            {
                "naive": pa.array([0, 1_000_000], pa.timestamp("us")),
                "aware": pa.array([0, 1_000_000], pa.timestamp("us", tz="UTC")),
                "vec": pa.array([[1.0, 2.0], None], pa.list_(pa.float32())),
                "small": pa.array([1, None], pa.int16()),
            }
        ),
        tmp_path / "planted.parquet",
    )
    got = entry._t(spark, str(tmp_path), "planted")
    want = spark.read.parquet(str(tmp_path / "planted.parquet"))
    assert got.schema == want.schema
    assert [f.dataType.typeName() for f in got.schema] == ["timestamp_ntz", "timestamp", "array", "short"]
    assert sorted(got.collect()) == sorted(want.collect())


def test_session_records_no_python_call_sites(spark):
    """With DataFrame debugging on, every Column and ``F.*`` call makes
    4-5 extra Py4J calls to record its Python call site; the session
    turns it off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
