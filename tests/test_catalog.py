"""catalog's reads and session caches: one schema inference per path
and listing per session with fresh relations on every read, the
listing as the one version of the schema memo, memo_persist and the
derived stores, and the atomic store publish."""

from __future__ import annotations

import os
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark import catalog
from data_pipeline_with_hdfs_sql_integration_spark.catalog import load, read_parquet

from tests.conftest import SF_DIR


def _jobs_started(spark, fn):
    """(fn's result, number of Spark jobs fn started on this thread)."""
    sc = spark.sparkContext
    group = f"read-parquet-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _parquet_opens(monkeypatch) -> list:
    """Record the path arguments of every DataFrameReader.parquet call
    from here on."""
    from pyspark.sql.readwriter import DataFrameReader

    opened = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kwargs):
        opened.extend(paths)
        return real(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    return opened


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_repeat_read_of_unchanged_path_starts_no_job(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    # An array column: the footer mapping leaves it to Spark's inference.
    spark.range(50).withColumn("s", F.array(F.col("id").cast("string"))).write.parquet(path)
    first, first_jobs = _jobs_started(spark, lambda: read_parquet(spark, path))
    again, again_jobs = _jobs_started(spark, lambda: read_parquet(spark, path))
    assert first_jobs >= 1  # schema inference
    assert again_jobs == 0
    assert again.schema == first.schema
    assert _rows(again) == _rows(first)
    # A repeat parquet_schema opens no relation at all.
    opened = _parquet_opens(monkeypatch)
    assert catalog.parquet_schema(spark, path) == first.schema
    assert opened == []


def _spark_schema(spark, path):
    return spark.read.parquet(path).schema


def _footer(spark, path):
    """catalog._footer_schema under `spark`'s inference confs."""
    return catalog._footer_schema(path, catalog._listing(path), catalog.inference_confs(spark))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_footer_schema_of_every_fixture_table_is_sparks(spark, sf):
    """Every fixture table but the nested embeddings gets Spark's
    inferred schema from its footer (timestamp_ntz included)."""
    sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
    for name in catalog.TABLES:
        path = catalog.table_path(sf_dir, name)
        driver = _footer(spark, path)
        if name == "embeddings":
            assert driver is None
        else:
            assert driver == _spark_schema(spark, path), name
    orders = _footer(spark, catalog.table_path(sf_dir, "orders"))
    assert orders["o_orderdate"].dataType.simpleString() == "timestamp_ntz"


def test_footer_schema_of_spark_written_types(spark, tmp_path):
    """A Spark-written file: the flat columns map exactly, the file with
    an array column falls back."""
    df = spark.sql(
        "SELECT timestamp'2020-01-02 03:04:05' AS ts, timestamp_ntz'2020-01-02 03:04:05' AS ntz,"
        " CAST(12.5 AS DECIMAL(10,2)) AS dec, CAST(1 AS TINYINT) AS ti,"
        " CAST(2 AS SMALLINT) AS si, array(1L, 2L) AS arr, 'x' AS s, date'2020-01-02' AS d,"
        " CAST('ab' AS BINARY) AS b, 1.5f AS f, true AS bo"
    )
    with_array, flat = str(tmp_path / "with_array"), str(tmp_path / "flat")
    df.write.parquet(with_array)
    df.drop("arr").write.parquet(flat)
    got = _footer(spark, with_array)
    assert got is None or got == _spark_schema(spark, with_array)
    assert _footer(spark, flat) == _spark_schema(spark, flat)
    assert [f.dataType.simpleString() for f in _footer(spark, flat).fields] == [
        "timestamp", "timestamp_ntz", "decimal(10,2)", "tinyint", "smallint", "string",
        "date", "binary", "float", "boolean",
    ]


def test_footer_schema_honours_inference_confs(spark, tmp_path):
    """binaryAsString and inferTimestampNTZ change the footer mapping as
    they change Spark's; a Spark schema in the footer that disagrees
    with the mapping falls back."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_with_hdfs_sql_integration_spark.session import child_session

    arrow = str(tmp_path / "arrow.parquet")
    pq.write_table(pa.table({
        "b": pa.array([b"x"]), "ts": pa.array([1], pa.timestamp("us")),
        "tz": pa.array([1], pa.timestamp("ms", tz="UTC")), "i8": pa.array([1], pa.int8()),
        "d": pa.array([1], pa.decimal128(30, 2)), "dt": pa.array([1], pa.date32()),
    }), arrow)
    written = str(tmp_path / "spark")
    spark.sql(
        "SELECT timestamp_ntz'2020-01-02 03:04:05' AS ntz, CAST('a' AS BINARY) AS b"
    ).write.parquet(written)
    for tuned in ({}, {"spark.sql.parquet.binaryAsString": "true"},
                  {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}):
        session = child_session(spark, tuned)
        assert _footer(session, arrow) == _spark_schema(session, arrow), tuned
        got = _footer(session, written)
        assert (got is None) == bool(tuned), tuned
        assert got is None or got == _spark_schema(session, written)
    session = child_session(spark, {"spark.sql.parquet.mergeSchema": "true"})
    assert _footer(session, arrow) is None


def test_footer_schema_falls_back_for_spark_only_layouts(spark, tmp_path):
    """Hive partitions, INT96, unsigned ints and nanosecond timestamps
    are left to Spark (whose nanosAsLong schema read_parquet keeps)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    hive = str(tmp_path / "hive")
    spark.range(6).withColumn("p", (F.col("id") % 2).cast("int")).write.partitionBy("p").parquet(hive)
    ts = pa.table({"ts": pa.array([1_500_000_000_123_456_789], pa.timestamp("ns"))})
    nanos, int96 = str(tmp_path / "nanos.parquet"), str(tmp_path / "int96.parquet")
    pq.write_table(ts, nanos)
    pq.write_table(ts, int96, use_deprecated_int96_timestamps=True)
    unsigned = str(tmp_path / "unsigned.parquet")
    pq.write_table(pa.table({"u": pa.array([1], pa.uint32())}), unsigned)
    assert _footer(spark, hive) is None
    for path in (hive, nanos, int96, unsigned):
        got = _footer(spark, path)
        assert got is None or got == _spark_schema(spark, path), path
        assert catalog.parquet_schema(spark, path) == _spark_schema(spark, path), path
    assert catalog.parquet_schema(spark, nanos)["ts"].dataType.simpleString() == "bigint"


def test_first_load_of_a_fixture_table_starts_no_job(spark, tmp_path, monkeypatch):
    """A first catalog.load of a footer-typed table starts no Spark job
    and opens no relation but its read; a repeat reads no footer."""
    import shutil

    import pyarrow.parquet as pq

    names = ("orders", "lineitem", "events", "documents")
    for name in names:
        shutil.copy(catalog.table_path(SF_DIR, name), catalog.table_path(str(tmp_path), name))
    opened = _parquet_opens(monkeypatch)
    for name in names:
        df, jobs = _jobs_started(spark, lambda: load(spark, str(tmp_path), name))
        assert jobs == 0, name
        assert df.schema == load(spark, SF_DIR, name).schema
    assert opened == [p for n in names for p in (catalog.table_path(str(tmp_path), n),
                                                 catalog.table_path(SF_DIR, n))]
    footers = []
    real = pq.read_metadata
    monkeypatch.setattr(pq, "read_metadata", lambda *a, **k: footers.append(a) or real(*a, **k))
    load(spark, str(tmp_path), "orders")
    assert footers == []


def test_repeat_build_cache_starts_no_job(spark, tmp_path):
    """build_cache reads its stored main through read_parquet, so a
    second build on one sf_dir (each o10/o11 build, each bench cache
    probe) starts no Spark job."""
    from data_pipeline_with_hdfs_sql_integration_spark.plans.cache_queries import build_cache

    build_cache(spark, SF_DIR, str(tmp_path / "c1"))
    cache, jobs = _jobs_started(spark, lambda: build_cache(spark, SF_DIR, str(tmp_path / "c2")))
    assert jobs == 0
    assert cache.main.columns == ["c_nationkey", "o_totalprice"]


def test_rewrite_with_added_column_shows_new_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(5).withColumn("x", F.col("id") * 2).write.mode("overwrite").parquet(path)
    assert catalog.parquet_schema(spark, path).names == ["id", "x"]
    df = read_parquet(spark, path)
    assert df.columns == ["id", "x"]
    assert _rows(df) == [(i, 2 * i) for i in range(5)]


def test_db_to_store_rewrite_reaches_calc_avg(spark, tmp_path):
    """A second DbToHdfs rewrites main with another value type and an
    extra column; the serve path must read the new main, not the
    schema it inferred for the old one."""
    from data_pipeline_with_hdfs_sql_integration_spark.api import Pipeline

    pipe = Pipeline(spark, str(tmp_path / "main"), str(tmp_path / "cache"), "k", "v")
    pipe.db_to_store(
        spark.createDataFrame([(1, 10), (1, 20), (2, 5)], "k int, v long"),
        attempts=1, sleep_s=0.0,
    )
    assert pipe.calc_avg(1).avg == 15
    pipe.invalidate_cache()
    pipe.db_to_store(
        spark.createDataFrame(
            [(1, 100.5, "a"), (1, 201.5, "b"), (2, 7.0, "c")], "k int, v double, tag string"
        ),
        attempts=1, sleep_s=0.0,
    )
    assert read_parquet(spark, pipe.main_path).columns == ["k", "v", "tag"]
    res = pipe.calc_avg(1)
    assert (res.avg, res.source, res.error) == (151, "create", "")
    assert pipe.calc_avg(1).source == "reuse"


def test_stale_application_entries_are_evicted(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    stale_key = ("app-dead-0000", "/tmp/x")
    catalog._SCHEMAS[stale_key] = ((), spark.range(1).schema)
    read_parquet(spark, path)
    assert stale_key not in catalog._SCHEMAS
    live = (spark.sparkContext.applicationId, os.path.abspath(path))
    assert live in catalog._SCHEMAS


def test_two_loads_of_one_table_self_join(spark, duck):
    """A repeat load is a fresh relation, so column references through
    each frame stay unambiguous in a self-join."""
    a = load(spark, SF_DIR, "nation")
    b = load(spark, SF_DIR, "nation")
    got = sorted(
        tuple(r)
        for r in a.join(b, a.n_regionkey == b.n_regionkey)
        .filter(a.n_nationkey < b.n_nationkey)
        .select(a.n_name, b.n_name)
        .collect()
    )
    want = sorted(
        duck.sql(
            "SELECT x.n_name, y.n_name FROM nation x JOIN nation y "
            "ON x.n_regionkey = y.n_regionkey WHERE x.n_nationkey < y.n_nationkey"
        ).fetchall()
    )
    assert got == want and got


def test_hive_partitioned_dir_keeps_partition_column(spark, tmp_path):
    path = str(tmp_path / "hive")
    spark.range(12).withColumn("p", (F.col("id") % 3).cast("int")).write.partitionBy(
        "p"
    ).parquet(path)
    first = read_parquet(spark, path)
    again, jobs = _jobs_started(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    assert again.schema == first.schema
    assert again.schema["p"].dataType.simpleString() == "int"
    assert _rows(again) == _rows(first) == sorted((i, i % 3) for i in range(12))


def test_concurrent_cold_reads_agree(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(20).withColumn("d", F.col("id") / 2).write.parquet(path)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            schemas = list(
                pool.map(lambda _: read_parquet(spark, path).schema, range(8), timeout=300)
            )
    finally:
        sys.setswitchinterval(interval)
    assert all(s == schemas[0] for s in schemas)
    assert read_parquet(spark, path).schema == schemas[0]


def test_listing_helpers_agree(spark, tmp_path, monkeypatch):
    """table_on_disk_bytes and row_count read the same listing;
    off-local paths answer -1 for the size and count with Spark."""
    sf = str(tmp_path)
    path = catalog.table_path(sf, "orders")
    spark.range(30).repartition(3).write.parquet(path)
    listing = catalog._listing(path)
    assert len(listing) == 3
    assert catalog.table_on_disk_bytes(sf, "orders") == sum(size for _f, size, *_ in listing)
    assert catalog.row_count(spark, path) == 30
    docs = catalog.table_path(SF_DIR, "documents")
    assert catalog.row_count(spark, docs) == load(spark, SF_DIR, "documents").count()
    assert catalog._listing("hdfs://nowhere/x.parquet") is None
    assert catalog.table_on_disk_bytes("hdfs://nowhere", "orders") == -1
    monkeypatch.setattr(catalog, "_listing", lambda p: None)
    assert catalog.row_count(spark, docs) == spark.read.parquet(docs).count()


def test_non_local_read_opens_one_relation(spark, tmp_path, monkeypatch):
    """A path without a driver-side listing (hdfs://, s3a://) opens one
    relation, which infers its schema."""
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    monkeypatch.setattr(catalog, "_listing", lambda p: None)
    opened = _parquet_opens(monkeypatch)
    df = read_parquet(spark, path)
    assert opened == [path]
    assert _rows(df) == [(i,) for i in range(5)]


def test_listing_versions_every_rewrite(tmp_path):
    """The listing, and so a derived store's directory, changes on a
    part file rewritten in place, on an added file and on an equal-size
    file renamed into place with the old mtime (only st_ino differs); it
    is equal on an untouched path."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    part = table / "part-0.parquet"
    part.write_bytes(b"a" * 10)
    before, store = catalog._listing(str(table)), catalog.deterministic_tmp_dir("k", str(table))
    assert catalog._listing(str(table)) == before

    part.write_bytes(b"b" * 11)  # in place: same inode
    rewritten = catalog._listing(str(table))
    assert rewritten != before
    assert catalog.deterministic_tmp_dir("k", str(table)) != store

    (table / "part-1.parquet").write_bytes(b"c")
    added = catalog._listing(str(table))
    assert len(added) == 2 and added[0] == rewritten[0]

    st = os.stat(part)
    fresh = tmp_path / "fresh"
    fresh.write_bytes(b"d" * 11)
    os.utime(fresh, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.rename(fresh, part)
    renamed = catalog._listing(str(table))
    assert renamed != added
    assert [row[:3] for row in renamed] == [row[:3] for row in added]


def _sf_copy(root, documents) -> str:
    """A copy of SF_DIR under ``root`` whose documents.parquet is a
    directory holding one part file with the ``documents`` table."""
    import shutil

    import pyarrow.parquet as pq

    os.makedirs(root)
    for t in catalog.TABLES:
        if t != "documents":
            shutil.copyfile(catalog.table_path(SF_DIR, t), catalog.table_path(root, t))
    os.makedirs(catalog.table_path(root, "documents"))
    pq.write_table(documents, _docs_part(root))
    return root


def _docs_part(sf_dir) -> str:
    return os.path.join(catalog.table_path(sf_dir, "documents"), "part-00000.parquet")


def _drop_session_caches(*sf_dirs):
    for key, (_version, df) in list(catalog._MEMO_PERSIST.items()):
        if key[-1] in sf_dirs:
            df.unpersist()
            del catalog._MEMO_PERSIST[key]
    for sf in sf_dirs:
        catalog.clear_derived_stores(sf)


def _outcomes(name) -> dict:
    return dict(catalog.PREPARED_COUNTS.get(name, {"hit": 0, "miss": 0, "refused": 0}))


def _grew(before: dict, after: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def test_rewrite_in_place_reaches_memo_and_derived_store(spark, tmp_path):
    """One session: a part file rewritten in place inside A's documents
    directory reaches a memo_persist frame (text_tfidf_topterm), a
    derived store (dedup_minhash_lsh's MinHash signatures), a frame
    persisted per call (search_phrase_docs, dedup_winnowing_overlap:
    the CacheManager would match their rebuilt plans to the old rows)
    and the prepared frame each query answered A's repeat call with, so
    all answer what they answer on B, the dataset the new file came
    from."""
    import shutil

    import pyarrow.parquet as pq

    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    docs = pq.read_table(catalog.table_path(SF_DIR, "documents"))
    a = _sf_copy(str(tmp_path / "a"), docs)
    b = _sf_copy(str(tmp_path / "b"), docs.take(list(range(0, docs.num_rows, 2))))
    qs = all_queries()
    names = ("text_tfidf_topterm", "dedup_minhash_lsh", "search_phrase_docs", "dedup_winnowing_overlap")

    def rows(name, sf_dir):
        return sorted(map(tuple, qs[name].fn(spark, sf_dir).collect()))

    try:
        want = {n: rows(n, b) for n in names}
        for n in names:
            assert rows(n, a) != want[n], n
            before = _outcomes(n)
            assert rows(n, a) != want[n], n
            assert _grew(before, _outcomes(n)) == {"hit": 1, "miss": 0, "refused": 0}, n
        shutil.copyfile(_docs_part(b), _docs_part(a))
        for n in names:
            before = _outcomes(n)
            assert rows(n, a) == want[n], n
            assert _grew(before, _outcomes(n)) == {"hit": 0, "miss": 1, "refused": 0}, n
    finally:
        _drop_session_caches(a, b)


def _prepared_record(spark, name, sf_dir):
    key = (spark.sparkContext.applicationId, spark, name, sf_dir)
    return catalog._PREPARED[key][1][1]


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "text_tfidf_topterm"])
def test_clear_cache_rebuilds_and_repersists(spark, name):
    """A repeat call answers with the frame the first call built; after
    a clearCache, which drops that frame's persist barriers (a per-call
    persist in dedup_ngram_jaccard, a memo_persist frame in
    text_tfidf_topterm), the next call rebuilds, persists its barriers
    again and answers the same rows."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    fn = all_queries()[name].fn
    first = fn(spark, SF_DIR)
    want = _rows(first)
    assert fn(spark, SF_DIR) is first
    assert _prepared_record(spark, name, SF_DIR).barriers
    spark.catalog.clearCache()
    before = _outcomes(name)
    again = fn(spark, SF_DIR)
    assert _grew(before, _outcomes(name)) == {"hit": 0, "miss": 1, "refused": 0}
    assert again is not first
    barriers = _prepared_record(spark, name, SF_DIR).barriers
    assert barriers and all(catalog._is_cached(b) for b in barriers)
    assert _rows(again) == want


def test_clear_derived_stores_between_calls_republishes(spark):
    """Deleting the derived stores between two calls of
    dedup_minhash_lsh is a miss: the second call publishes its MinHash
    signature store again and answers the same rows."""
    import tempfile

    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    fn = all_queries()["dedup_minhash_lsh"].fn
    want = _rows(fn(spark, SF_DIR))
    stores = [s for s in catalog.clear_derived_stores(SF_DIR) if s.startswith("dps_minhashsigs")]
    assert stores
    before = _outcomes("dedup_minhash_lsh")
    assert _rows(fn(spark, SF_DIR)) == want
    assert _grew(before, _outcomes("dedup_minhash_lsh")) == {"hit": 0, "miss": 1, "refused": 0}
    assert all(catalog.is_complete(os.path.join(tempfile.gettempdir(), s)) for s in stores)


def test_sink_roundtrip_is_refused_and_writes_every_call(spark):
    """o05_parquet_sink_roundtrip reads back a fresh mkdtemp directory
    through a bare spark.read, which no listing versions: its build is
    never stored, and each call writes its extract again."""
    import glob
    import tempfile

    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    fn = all_queries()["o05_parquet_sink_roundtrip"].fn
    sinks = os.path.join(tempfile.gettempdir(), "dps_sink_*")
    dirs = set(glob.glob(sinks))
    before = _outcomes("o05_parquet_sink_roundtrip")
    answers = [_rows(fn(spark, SF_DIR)) for _ in range(2)]
    assert answers[0] == answers[1]
    assert _grew(before, _outcomes("o05_parquet_sink_roundtrip")) == {"hit": 0, "miss": 0, "refused": 2}
    assert len(set(glob.glob(sinks)) - dirs) == 2


def test_changed_conf_is_reset_and_keys_the_prepared_frame(spark):
    """A runtime conf changed between two calls is set back before the
    second call builds or looks up anything, so that call finds the
    confs the first call's frame was built under and answers with it.
    A change to any other conf stays and is a miss: analysis bakes
    session confs into the plan."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    fn = all_queries()["o07_pushdown_scan"].fn
    first = fn(spark, SF_DIR)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    assert fn(spark, SF_DIR) is first
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    key, old = "spark.sql.caseSensitive", spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set(key, "true" if old == "false" else "false")
    try:
        before = _outcomes("o07_pushdown_scan")
        again = fn(spark, SF_DIR)
        assert _grew(before, _outcomes("o07_pushdown_scan")) == {"hit": 0, "miss": 1, "refused": 0}
        assert again is not first and _rows(again) == _rows(first)
    finally:
        spark.conf.set(key, old)


def _side_table(spark, tmp_path) -> str:
    path = str(tmp_path / "side")
    spark.range(5).write.parquet(path)
    return path


@pytest.mark.parametrize("barrier", ["persist", "checkpoint"])
def test_bare_read_behind_a_barrier_is_refused(spark, tmp_path, barrier):
    """A body that persists or checkpoints a bare spark.read of a path
    no listing covers is never stored, though the frame's optimized
    plan shows that read only as a cached or checkpointed leaf; the
    same body reading the path through the catalog is stored."""
    path = _side_table(spark, tmp_path)
    keep = getattr(catalog, barrier)
    name = f"unit_bare_{barrier}"

    def body(read):
        def build():
            side = keep(read(path))
            side.count()
            return load(spark, SF_DIR, "nation").crossJoin(side)
        return build

    before = _outcomes(name)
    bare = [catalog.prepared(spark, name, SF_DIR, "confs", body(spark.read.parquet)) for _ in range(2)]
    assert _grew(before, _outcomes(name)) == {"hit": 0, "miss": 0, "refused": 2}
    assert len(bare[1].collect()) == 125
    before = _outcomes(name)
    for _ in range(2):
        catalog.prepared(spark, name, SF_DIR, "confs", body(lambda p: read_parquet(spark, p)))
    assert _grew(before, _outcomes(name)) == {"hit": 1, "miss": 1, "refused": 0}
    catalog.forget_prepared()


def test_bpe_merges_hit_after_unpersisting_its_barrier(spark):
    """text_bpe_learn_merges unpersists its persisted vocabulary and
    checkpoints every round; its build stores only barriers still
    cached, so the repeat call is a hit."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    fn = all_queries()["text_bpe_learn_merges"].fn
    first = fn(spark, SF_DIR)
    before = _outcomes("text_bpe_learn_merges")
    assert fn(spark, SF_DIR) is first
    assert _grew(before, _outcomes("text_bpe_learn_merges")) == {"hit": 1, "miss": 0, "refused": 0}
    assert _prepared_record(spark, "text_bpe_learn_merges", SF_DIR).barriers == []


def test_release_pins_forgets_prepared_frames(spark):
    """release_pins, which long-lived sessions call between queries,
    drops every prepared frame, so the next call builds again."""
    from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import release_pins
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    fn = all_queries()["o02_broadcast_join"].fn
    first = fn(spark, SF_DIR)
    assert fn(spark, SF_DIR) is first
    release_pins()
    assert catalog._PREPARED == {}
    before = _outcomes("o02_broadcast_join")
    assert fn(spark, SF_DIR) is not first
    assert _grew(before, _outcomes("o02_broadcast_join")) == {"hit": 0, "miss": 1, "refused": 0}


def test_clear_derived_stores_removes_every_version(tmp_path):
    """A store made for a table, the table rewritten, the new version's
    store made: clear_derived_stores removes both."""
    table = catalog.table_path(str(tmp_path), "orders")
    with open(table, "wb") as f:
        f.write(b"a" * 10)
    old = catalog.deterministic_tmp_dir("unit_versions", table)
    _write_store(old)
    with open(table, "wb") as f:
        f.write(b"b" * 11)
    new = catalog.deterministic_tmp_dir("unit_versions", table)
    assert new != old
    _write_store(new)
    removed = catalog.clear_derived_stores(str(tmp_path))
    assert sorted(removed) == sorted(os.path.basename(d) for d in (old, new))
    assert not os.path.exists(old) and not os.path.exists(new)


def test_memo_persist_unpersists_replaced_frames(spark, tmp_path):
    """Three rewrites of the dataset leave no more persisted RDDs than
    one version does: each replaced memo frame is unpersisted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = catalog.table_path(sf, "region")
    pq.write_table(pa.table({"id": list(range(3))}), path)
    jsc = spark.sparkContext._jsc

    def persisted(n_rows):
        df = catalog.memo_persist(spark, "unit_rewrite", sf, lambda: read_parquet(spark, path))
        assert df.count() == n_rows
        return jsc.getPersistentRDDs().size()

    try:
        first = persisted(3)
        for n in (4, 5, 6):
            pq.write_table(pa.table({"id": list(range(n))}), path)
            assert persisted(n) <= first
    finally:
        _drop_session_caches(sf)


def test_memo_persist_single_copy_and_repersist(spark, tmp_path):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn("x", F.col("id") * 2)

    a = catalog.memo_persist(spark, "unit_memo_test", str(tmp_path), build)
    b = catalog.memo_persist(spark, "unit_memo_test", str(tmp_path), build)
    assert a is b and calls["n"] == 1, "memo must build once and share the frame"
    assert a.storageLevel.useMemory or a.storageLevel.useDisk
    a.count()
    spark.catalog.clearCache()
    c = catalog.memo_persist(spark, "unit_memo_test", str(tmp_path), build)
    assert c is a and calls["n"] == 1
    assert c.storageLevel.useMemory or c.storageLevel.useDisk, (
        "memo must re-persist after an external clearCache"
    )
    c.unpersist()


def test_concurrent_memo_persist_shares_one_frame(spark, tmp_path):
    """Racing cold calls may each build, but the first insert wins and
    every caller gets that one persisted frame."""
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            frames = list(pool.map(
                lambda _: catalog.memo_persist(spark, "unit_race", str(tmp_path), lambda: spark.range(4)),
                range(16), timeout=300,
            ))
    finally:
        sys.setswitchinterval(interval)
    key = (spark.sparkContext.applicationId, "unit_race", str(tmp_path))
    assert all(f is frames[0] for f in frames)
    assert catalog._MEMO_PERSIST[key][1] is frames[0]
    assert frames[0].storageLevel.useMemory or frames[0].storageLevel.useDisk
    _drop_session_caches(str(tmp_path))


def test_memo_persist_evicts_stale_app_ids(spark, tmp_path):
    """Entries keyed by a dead application's id are evicted on access so
    the memo cannot grow unboundedly across session restarts."""
    stale_key = ("app-dead-0000", "some_store", "/tmp/x")
    catalog._MEMO_PERSIST[stale_key] = (None, spark.range(1))
    df = catalog.memo_persist(spark, "r7_evict_probe", str(tmp_path), lambda: spark.range(3))
    assert df.count() == 3
    assert stale_key not in catalog._MEMO_PERSIST
    live = (spark.sparkContext.applicationId, "r7_evict_probe", str(tmp_path))
    assert live in catalog._MEMO_PERSIST
    df.unpersist()
    catalog._MEMO_PERSIST.pop(live, None)


def test_clear_derived_stores_forces_rebuild(spark):
    """Removing a published store must (a) only touch dirs keyed to
    this SF and (b) make the next access rebuild in-process, landing
    the build in STORE_BUILD_TIMES."""
    from data_pipeline_with_hdfs_sql_integration_spark.plans import similarity as sim

    store = sim.ivf2_index_store(spark, SF_DIR)  # ensure published
    assert os.path.exists(os.path.join(store, "_SUCCESS"))
    removed = catalog.clear_derived_stores(SF_DIR)
    assert os.path.basename(store) in removed
    assert not os.path.exists(store)
    catalog.STORE_BUILD_TIMES.pop(os.path.basename(store), None)
    store2 = sim.ivf2_index_store(spark, SF_DIR)
    assert store2 == store and os.path.exists(os.path.join(store, "_SUCCESS"))
    assert catalog.STORE_BUILD_TIMES.get(os.path.basename(store), 0.0) > 0.0


def _write_store(path, data="data"):
    os.makedirs(path)
    with open(os.path.join(path, "part-0"), "w") as f:
        f.write(data)


def test_publish_store_raises_when_every_rename_fails(tmp_path, monkeypatch):
    store = str(tmp_path / "store")

    def broken(path):
        _write_store(os.path.join(path, "sub"))
        raise ValueError("build failed")

    with pytest.raises(ValueError, match="build failed"):
        catalog.publish_store(store, broken)
    assert os.listdir(tmp_path) == []  # neither the target nor a marker

    def refuse(src, dst):
        raise OSError("rename refused")

    monkeypatch.setattr(os, "rename", refuse)
    with pytest.raises(RuntimeError, match="could not publish"):
        catalog.publish_store(store, _write_store)
    assert os.listdir(tmp_path) == []  # the build dir was removed


def test_publish_store_complete_probe_and_build_time(tmp_path):
    """A custom ``complete`` probe decides reuse; an incomplete target
    is moved aside and replaced; the build time lands once under the
    target's name."""
    store = str(tmp_path / "store")
    os.makedirs(store)  # incomplete under the probe below
    catalog.STORE_BUILD_TIMES.pop("store", None)

    def has_part(path):
        return os.path.exists(os.path.join(path, "part-0"))

    catalog.publish_store(store, _write_store, complete=has_part)
    assert sorted(os.listdir(tmp_path)) == ["store"]
    assert sorted(os.listdir(store)) == ["_SUCCESS", "part-0"]
    assert catalog.STORE_BUILD_TIMES["store"] >= 0.0

    def must_not_run(path):
        raise AssertionError("rebuilt a complete store")

    catalog.publish_store(store, must_not_run, complete=has_part)

    # The default probe is the marker publish_store writes itself: a
    # build of subdirectories only is published complete, and once.
    nested = str(tmp_path / "nested")
    calls = []

    def build(path):
        calls.append(path)
        _write_store(os.path.join(path, "sub"))

    catalog.publish_store(nested, build)
    catalog.publish_store(nested, build)
    assert catalog.is_complete(nested) and len(calls) == 1
    assert sorted(os.listdir(nested)) == ["_SUCCESS", "sub"]


def test_layout_stores_concurrent_first_use(spark, tmp_path):
    """Two concurrent first calls of each layout query over a fresh
    copy of the tables (every derived store cold) answer exactly what
    a solo call over SF_DIR answers, and leave no build or stale
    sibling behind."""
    import glob
    import shutil
    import tempfile

    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    names = [
        "layout_partition_pruning",
        "layout_dynamic_partition_pruning",
        "layout_zorder_pruning",
        "layout_compaction",
    ]
    qs = all_queries()

    def rows(name, sf_dir):
        return sorted(map(tuple, qs[name].fn(spark, sf_dir).collect()))

    solo = {n: rows(n, SF_DIR) for n in names}
    copy = str(tmp_path / "sf")
    os.makedirs(copy)
    for t in catalog.TABLES:
        shutil.copyfile(catalog.table_path(SF_DIR, t), catalog.table_path(copy, t))
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [(n, pool.submit(rows, n, copy)) for n in names * 2]
            got = [(n, f.result()) for n, f in futures]
    finally:
        stores = catalog.clear_derived_stores(copy)
    for n, r in got:
        assert r == solo[n], n
    assert {"dps_layout_day", "dps_layout_compacted"} <= {s.rsplit("_", 2)[0] for s in stores}
    tmp = tempfile.gettempdir()
    assert [p for s in stores for p in glob.glob(os.path.join(tmp, s + ".*"))] == []
