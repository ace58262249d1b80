"""One-session sweep of EVERY registered query against its DuckDB
oracle at a given SF dir (usage: python tools/full_sweep.py [sf_dir]).
The definitive cross-query-interference + cross-SF exactness check:
the sf0.1 run caught the wide-integer->double divergence the sf0.01
driver gate could not see (sums below 2^53 there).

SWEEP_MODE=digest streams rows from BOTH engines through the same
Python str() canonicalization into an order-independent hash
(count + sum of per-row sha256 mod 2^127) instead of collecting and
sorting them — O(1) memory on the driver, no maxResultSize cap, so
full-dump row-identity queries (o01–o08 projections/filters, pii
scrub) compare even at sf10 where their multi-million-row results
made exact collection a harness limitation, never an engine one.
Value semantics are IDENTICAL to the exact mode (same per-value str()
forms, multiset equality via the hash sum)."""
import os, sys, time
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))
from busy import claim as _claim
# Pidfile handshake (round-11 lesson): declare this process as a
# box-owning workload so bench.py refuses to time queries while the
# sweep runs — a sweep racing the driver's bench contaminated BENCH_r11.
_claim("sweep")
from pyspark.sql import SparkSession
import os as _os
_cpus = _os.environ.get("SWEEP_CPUS", "16")
spark = (SparkSession.builder.master(f"local[{_cpus}]")
         .config("spark.sql.shuffle.partitions", _cpus)
         # sf1 sweeps die at the 1g default driver memory (round 7:
         # SparkContext shut down mid-sweep); local mode puts every
         # executor thread in the driver JVM, so size it for the SF.
         # Env-tunable so several SWEEP_SHARD processes can split a
         # 128 GB box without their worst cases adding past physical.
         .config("spark.driver.memory", _os.environ.get("SWEEP_DRIVER_MEM", "24g"))
         # The harness collect()s full results for the compare; at
         # sf10 even aggregate outputs can pass the 1g default.
         .config("spark.driver.maxResultSize", "8g")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
qs, os_ = e.queries(), e.oracle_sql()
import duckdb
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def _connect():
    """Fresh oracle connection. Big-SF oracles can exhaust RAM inside
    the in-process DuckDB (round 7: dedup_substring_spans' oracle at
    sf1 hit 127 GB anon RSS and the OOM killer took the whole sweep,
    silently when stderr was discarded) — cap it and let it spill to
    disk instead of dying. The spill dir is PER-PROCESS: sharded
    sweeps running several DuckDBs collide on temp block filenames in
    a shared dir (round 9: one shard's buffer pool wedged after a
    failed spill and every later oracle died on tiny allocations)."""
    c = duckdb.connect()
    c.execute(f"PRAGMA memory_limit='{_os.environ.get('SWEEP_DUCK_MEM', '40GB')}'")
    c.execute(f"PRAGMA temp_directory='/tmp/duck_spill_{_os.getpid()}'")
    # Cap the spill dir: the round-11 holdout sweep let two oracles
    # spill /tmp to disk-full, which then killed the SPARK JVM's temp
    # writes too (7 queries unreached). A capped oracle fails with a
    # clean per-query error the retry/fallback tiers can handle; an
    # uncapped one takes the whole box down.
    c.execute(f"SET max_temp_directory_size='{_os.environ.get('SWEEP_DUCK_SPILL', '45GiB')}'")
    # The limit does not track every operator's state, and peak memory
    # scales with per-thread partial hash tables (default = all cores).
    # Fewer threads is the lever that actually bounds the big-SF oracles.
    c.execute(f"PRAGMA threads={max(4, int(_cpus) // 2)}")
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return c


con = _connect()
ok = bad = 0; fails = []
t_start = time.monotonic()
# Cheap-oracle families first: at big SFs the pair-generating text/
# embedding oracles (shingle joins, recursive CTEs, in-SQL cosine
# verify) take minutes each in DuckDB, while the numeric families —
# where scale-boundary exactness bugs actually live (2^53 class) —
# check in seconds. Front-load the signal.
_heavy = ("dedup_", "sim_", "text_", "overlap_", "cluster_", "graph_",
          "linkage_", "pipeline_", "contamination_", "quality_")
# Optional sharding for big-SF runs where single oracles take minutes:
# SWEEP_SHARD="i/n" processes every n-th query (offset i) so several
# sweep processes can split the list; SWEEP_FAMILIES="heavy"/"cheap"
# restricts to the heavy-prefix families or their complement.
_names = sorted(qs, key=lambda n: (n.startswith(_heavy), n))
_fam = __import__("os").environ.get("SWEEP_FAMILIES", "")
if _fam == "heavy":
    _names = [n for n in _names if n.startswith(_heavy)]
elif _fam == "cheap":
    _names = [n for n in _names if not n.startswith(_heavy)]
_shard = __import__("os").environ.get("SWEEP_SHARD", "")
if _shard:
    _i, _n = (int(x) for x in _shard.split("/"))
    _names = _names[_i::_n]
# SWEEP_ONLY="a,b,c" restricts to an explicit list (in the given
# order) — the tail-chasing knob when a few slow oracles remain.
_only = __import__("os").environ.get("SWEEP_ONLY", "")
if _only:
    _unknown = [n for n in _only.split(",") if n not in qs]
    if _unknown:
        # Same contract as engine_side_run (round-9 ADVICE): a typo'd
        # name must never be silently skipped and reported as covered.
        print(f"SWEEP_ONLY names not in registry: {_unknown}", flush=True)
        sys.exit(2)
    _names = _only.split(",")
_digest_mode = __import__("os").environ.get("SWEEP_MODE", "exact") == "digest"


# Single shared definition (tools/digestlib.py): invariance_probe.py
# verdicts compose with sweep verdicts only if both hash identically.
from digestlib import digest as _digest


for name in _names:
    # A DuckDB "Out of Memory / bad allocation" is a HARNESS condition,
    # not an engine verdict, and it wedges the connection's buffer pool
    # so every later oracle dies on tiny allocations (observed in the
    # sharded sf10 run). Retry ONCE on a fresh connection; a second
    # failure records as the query's real verdict.
    for _attempt in (0, 1):
        t_q = time.monotonic()
        try:
            sdf = qs[name](spark, SF)
            proj = sdf.select(*sorted(sdf.columns))
            if _digest_mode:
                # toLocalIterator runs ONE JOB PER PARTITION, and each
                # job's FINAL stage is a single task — a query whose
                # expensive work (e.g. a pair verify) lives in the
                # final stage serializes to one core per partition
                # (measured 32x on dedup_semantic_probe2 at sf10; the
                # round-11 band sweep crawled the same way). A
                # round-robin repartition AFTER the computation makes
                # the expensive stage run ONCE at full width — its
                # shuffle output is reused by every per-partition
                # fetch job — for one extra shuffle of the result.
                proj = proj.repartition(int(_cpus))
                # prefetchPartitions: fetch partition i+1 while Python
                # digests partition i — without it the JVM idles during
                # every digest burst and the driver idles during every
                # fetch (measured on the round-12 holdout sweep: the
                # pair-heavy queries alternated 68% python / fetch
                # stalls for the whole final stage).
                s_cnt, s_acc = _digest(
                    tuple(r)
                    for r in proj.toLocalIterator(prefetchPartitions=True)
                )
                t_spark = time.monotonic() - t_q
                if name not in os_:
                    assert s_cnt > 0, f"{name}: rows-only query returned 0 rows"
                    ok += 1
                    print(f"OK(rows-only) {name} spark={t_spark:.1f}s rows={s_cnt}", flush=True)
                    break
                rel = con.sql(os_[name])
                cur = con.execute(
                    f"SELECT {', '.join(sorted(rel.columns))} FROM ({os_[name]})"
                )

                def _duck_rows():
                    while True:
                        batch = cur.fetchmany(100_000)
                        if not batch:
                            return
                        yield from batch

                d_cnt, d_acc = _digest(_duck_rows())
                t_oracle = time.monotonic() - t_q - t_spark
                if (s_cnt, s_acc) == (d_cnt, d_acc):
                    ok += 1
                    print(f"OK(digest) {name} spark={t_spark:.1f}s oracle={t_oracle:.1f}s rows={s_cnt}", flush=True)
                else:
                    bad += 1; fails.append((name, "digest-mismatch", s_cnt, d_cnt))
                    print(f"FAIL(digest) {name} rows {s_cnt} vs {d_cnt} acc_eq={s_acc == d_acc}", flush=True)
                break
            rows = proj.collect()
            t_spark = time.monotonic() - t_q
            if name not in os_:
                # Oracle-less queries must still return data: a regression
                # to an empty frame is a failure, not an "ok".
                assert len(rows) > 0, f"{name}: rows-only query returned 0 rows"
                assert len(rows[0]) > 0, f"{name}: rows-only query returned 0 columns"
                ok += 1
                print(f"OK(rows-only) {name} spark={t_spark:.1f}s", flush=True)
                break
            s = sorted(tuple(str(x) for x in r) for r in rows)
            rel = con.sql(os_[name])
            d = sorted(tuple(str(x) for x in r)
                       for r in con.sql(f"SELECT {', '.join(sorted(rel.columns))} FROM ({os_[name]})").fetchall())
            t_oracle = time.monotonic() - t_q - t_spark
            if s == d:
                ok += 1
                print(f"OK {name} spark={t_spark:.1f}s oracle={t_oracle:.1f}s", flush=True)
            else:
                bad += 1; fails.append((name, "mismatch", len(s), len(d)))
                print(f"FAIL(mismatch) {name} rows {len(s)} vs {len(d)}", flush=True)
            break
        except Exception as ex:
            msg = str(ex)
            if _attempt == 0 and ("Out of Memory" in msg or "bad allocation" in msg):
                try:
                    con.close()
                except Exception:
                    pass
                con = _connect()
                print(f"RETRY {name}: fresh DuckDB connection after OOM", flush=True)
                continue
            bad += 1; fails.append((name, msg[:160], None, None))
            print(f"FAIL(error) {name}: {msg[:160]}", flush=True)
            # A dead JVM (driver heap OOM kills the SparkContext in
            # local mode) fails EVERY later query instantly — those
            # would be recorded as engine failures when they are one
            # harness casualty. Abort loudly; the unreached names are
            # printed so a recovery run can SWEEP_ONLY them.
            try:
                _dead = spark.sparkContext._jsc is None or spark.sparkContext._jsc.sc().isStopped()
            except Exception:
                _dead = True
            if _dead:
                rest = _names[_names.index(name) + 1:]
                print(f"ABORT: Spark session died during {name}; "
                      f"{len(rest)} queries not reached: {','.join(rest)}",
                      flush=True)
                print(f"SWEEP {SF}: {ok} ok / {bad} bad of {len(_names)} "
                      f"(ABORTED, {len(rest)} unreached) in {time.monotonic()-t_start:.0f}s")
                for f_ in fails: print(" FAIL:", f_)
                sys.exit(3)
            break
        finally:
            # Bound session memory like bench.py: drop the persist handles
            # the global-rank operators pin and clear cached relations so
            # 256 queries in one session don't accumulate eviction churn.
            from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import release_pins
            release_pins()
            spark.catalog.clearCache()
print(f"SWEEP {SF}: {ok} ok / {bad} bad of {len(_names)} in {time.monotonic()-t_start:.0f}s")
for f in fails: print(" FAIL:", f)
