"""Batch fault-injection harness: real Spark task retries, injected.

Streaming recovery is covered by streaming/recovery.py + its restart
tests; this tool closes the BATCH half of the fault-tolerance story. It
boots a session on ``local[4,2]`` — the local-mode master form whose
second argument is ``spark.task.maxFailures`` — and wraps hot-path
operator inputs (and one post-shuffle reduce stage) in a pass-through
``mapInPandas`` that raises on the FIRST attempt of one partition's
task. Spark retries the task; the scenario passes only when

  1. the injected failure demonstrably fired (the failing attempt drops
     a marker file before raising), and
  2. the retried run's result is bit-identical to a clean run of the
     same plan on the same session.

That is the at-scale property the operators claim in their docstrings
("deterministic under partial-stage retries"): on a 1000-executor
cluster, task retries and re-scheduled stages are routine — an operator
whose output depends on which attempt survived would silently corrupt
results long before anything crashed. The scenarios cover the
determinism risk classes:

- keeper choice in exact dedup (min-ordering, not "first seen"),
- row_number sequence codes (explicit total order, not arrival order),
- LSH candidate pairs (hash-derived, persist() re-materialization),
- multiplicative-hash splits (pure arithmetic on ids),
- Count-Min sketch build + the shuffle-free estimate chain,
- a post-shuffle aggregation (reduce-stage retry re-fetches map output),
- the parquet sink commit protocol (the failed attempt's files must be
  discarded — exactly-once output, zero duplicate rows),
- latest-wins CDC merge (argmax keeper + delete application: the same
  survivor-choice risk class as exact dedup, on the change-log path).

``--negative-control`` runs one injected scenario on plain ``local[4]``
(maxFailures=1) and asserts the job FAILS — proof the injection is real
and the main run's green is earned, not vacuous.

Round 9 adds the MULTI-PROCESS ring of evidence — the fault classes a
single-JVM ``local[N,F]`` master cannot produce:

- ``--mode cluster``: the full determinism-scenario suite re-run on
  ``local-cluster[2,2,1024]`` — two REAL executor JVMs, so every
  operator's closures, Arrow UDFs, and broadcasts cross a genuine
  serialization boundary (a lambda capturing an unserializable handle,
  or a module only importable in the driver process, fails HERE and
  nowhere in local mode). Plus:

  * ``exec_kill_*``: a reduce-side task SIGKILLs its OWN executor JVM
    mid-job, after upstream map output exists on that executor. The
    next fetch of that output hits FetchFailed, the DAGScheduler
    re-executes the lost map partitions, the standalone Worker
    relaunches a replacement executor, and the job completes. Evidence:
    the kill marker records the killed JVM pid (asserted dead), and a
    pre-shuffle task recorder proves >=1 map partition executed MORE
    THAN ONCE in the injected run and exactly once in the clean run —
    stage re-execution, not mere task retry. Results bit-match.
  * ``exec_kill_write``: the executor dies MID-WRITE-STAGE — the commit
    protocol must exclude the dead executor's uncommitted task-attempt
    files (read-back bit-matches a clean write, ``_SUCCESS`` present,
    zero ``_temporary`` residue) while the lost shuffle output forces
    differential stage re-execution, same proof as above.
  * ``worker_hard_kill``: the Arrow worker dies via ``os._exit(1)``
    (no Python exception, no socket shutdown) on attempt 0 — exercises
    executor-side worker-crash detection + worker reuse. (Also in the
    local suite.)

- ``--mode speculation``: ``spark.speculation=true`` with an injected
  slow attempt 0 (stall, then stream) — the scheduler races a
  SPECULATIVE copy of the same task; whichever commits must yield the
  same bytes. Evidence: attempt markers show the slow partition ran
  attempts {0,1}, and the result bit-matches a clean run. A subtly
  different duplicate risk than retry: two attempts of ONE task run
  CONCURRENTLY. Runs on a REAL standalone master + two worker JVMs
  registering as DIFFERENT host strings (127.0.0.1 / localhost, both
  loopback), because the scheduler never places a speculative copy on
  a host that already has an attempt of that task — on
  ``local-cluster`` (one host string) speculation can never launch,
  which this tool verified empirically before growing the standalone
  harness.

Usage:
  python -m tools.faultinject [--sf-dir DIR] [--out FAULTS.json]
                              [--mode local|cluster|speculation|all]
  python -m tools.faultinject --negative-control

Prints one JSON line; exit 0 iff every scenario matched and fired.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F


def inject_first_attempt_failure(
    df: DataFrame, marker_dir: str, tag: str, fail_partition: int = 0
) -> DataFrame:
    """Pass-through mapInPandas that kills attempt 0 of one task.

    The failing attempt writes ``<marker_dir>/<tag>.fired`` before
    raising, so callers can assert the failure actually happened (a
    scenario that never fired proves nothing). Retried attempts
    (attemptNumber >= 1) stream batches through untouched — the wrapper
    adds no columns, reorders nothing, and preserves the schema, so the
    surrounding plan is exactly the production plan plus one extra
    map stage.
    """
    schema = df.schema

    def gen(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc.partitionId() == fail_partition and tc.attemptNumber() == 0:
            os.makedirs(marker_dir, exist_ok=True)
            with open(os.path.join(marker_dir, f"{tag}.fired"), "w") as fh:
                fh.write(f"stage={tc.stageId()} attempt={tc.attemptNumber()}")
            raise RuntimeError(f"faultinject: injected failure [{tag}]")
        for pdf in batches:
            yield pdf

    return df.mapInPandas(gen, schema)


def _canon(df: DataFrame) -> list[str]:
    """Order-insensitive exact rendering of a result (repr keeps float
    bits, so equality here is bit-equality)."""
    return sorted(repr(tuple(r)) for r in df.collect())


def record_task_markers(df: DataFrame, marker_dir: str, tag: str) -> DataFrame:
    """Pass-through mapInPandas that drops one empty marker file per TASK
    ATTEMPT: ``<tag>.map.p<partition>.t<taskAttemptId>``. taskAttemptId
    is globally unique, so a partition with >1 marker was executed more
    than once — in the exec-kill scenarios that is the machine-checked
    proof of STAGE RE-EXECUTION (the map stage had already completed;
    only a FetchFailed after executor loss re-runs its tasks)."""
    schema = df.schema

    def gen(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        os.makedirs(marker_dir, exist_ok=True)
        name = f"{tag}.map.p{tc.partitionId()}.t{tc.taskAttemptId()}"
        open(os.path.join(marker_dir, name), "w").close()
        for pdf in batches:
            yield pdf

    return df.mapInPandas(gen, schema)


def kill_own_executor_jvm(df: DataFrame, marker_dir: str, tag: str) -> DataFrame:
    """Pass-through mapInPandas whose partition-0 task SIGKILLs its own
    executor JVM — real executor loss, shuffle files and all.

    The task walks ``/proc`` ancestors (worker ← pyspark.daemon ← executor
    JVM) and only fires when the ancestor's cmdline names
    CoarseGrainedExecutorBackend, so it is inert on a local[N] master
    (where the first java ancestor is the DRIVER). Fires once per run,
    gated on the marker file (stage re-execution resets attemptNumber to
    0, so an attempt-number gate would re-kill forever)."""
    schema = df.schema

    def gen(batches):
        import signal

        from pyspark import TaskContext

        tc = TaskContext.get()
        flag = os.path.join(marker_dir, f"{tag}.fired")
        if tc.partitionId() == 0 and not os.path.exists(flag):
            pid = os.getppid()
            jvm = None
            for _ in range(10):
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as fh:
                        cmd = fh.read().decode(errors="replace")
                    with open(f"/proc/{pid}/stat") as fh:
                        stat = fh.read()
                except OSError:
                    break
                if "CoarseGrainedExecutorBackend" in cmd:
                    jvm = pid
                    break
                # ppid is field 2 after the last ')' (comm may hold spaces)
                pid = int(stat.rsplit(")", 1)[1].split()[1])
            if jvm is not None:
                os.makedirs(marker_dir, exist_ok=True)
                with open(flag, "w") as fh:
                    fh.write(str(jvm))
                os.kill(jvm, signal.SIGKILL)
                # we die with the JVM; never stream a partial batch out
                import time as _t

                _t.sleep(60)
                os._exit(1)
        for pdf in batches:
            yield pdf

    return df.mapInPandas(gen, schema)


def hard_kill_worker_first_attempt(
    df: DataFrame, marker_dir: str, tag: str
) -> DataFrame:
    """Pass-through mapInPandas whose partition-0 attempt-0 task kills the
    PYTHON WORKER with os._exit(1) — no exception raised, no clean socket
    shutdown. Exercises the executor's worker-crash detection and worker
    re-use paths, a different failure surface than a raised error (which
    travels the normal serialized-exception channel)."""
    schema = df.schema

    def gen(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc.partitionId() == 0 and tc.attemptNumber() == 0:
            os.makedirs(marker_dir, exist_ok=True)
            with open(os.path.join(marker_dir, f"{tag}.fired"), "w") as fh:
                fh.write(f"task={tc.taskAttemptId()}")
            os._exit(1)
        for pdf in batches:
            yield pdf

    return df.mapInPandas(gen, schema)


def slow_first_attempt(
    df: DataFrame, marker_dir: str, tag: str, sleep_s: float = 8.0
) -> DataFrame:
    """Pass-through mapInPandas that records every (partition, attempt)
    and STALLS partition 0's attempt 0 before streaming — long enough for
    the speculation scheduler to launch a racing copy (attempt 1) on the
    other executor. Both attempts produce the same bytes; whichever
    commits first wins, and the scenario asserts the RESULT cannot tell."""
    schema = df.schema

    def gen(batches):
        import time as _t

        from pyspark import TaskContext

        tc = TaskContext.get()
        os.makedirs(marker_dir, exist_ok=True)
        name = f"{tag}.attempt.p{tc.partitionId()}.a{tc.attemptNumber()}"
        open(os.path.join(marker_dir, name), "w").close()
        if tc.partitionId() == 0 and tc.attemptNumber() == 0:
            _t.sleep(sleep_s)
        for pdf in batches:
            yield pdf

    return df.mapInPandas(gen, schema)


def _map_exec_counts(marker_dir: str, tag: str) -> dict[str, int]:
    """partition → number of distinct task attempts recorded for it."""
    counts: dict[str, int] = {}
    prefix = f"{tag}.map."
    for name in os.listdir(marker_dir):
        if name.startswith(prefix):
            part = name[len(prefix):].split(".")[0]
            counts[part] = counts.get(part, 0) + 1
    return counts


def _scenarios(spark, sf_dir: str, marker_dir: str, scratch: str):
    """Yield (name, clean_thunk, injected_thunk) triples. Both thunks
    build the SAME logical plan; the injected one wraps a stage input in
    inject_first_attempt_failure."""
    from ncpi_whistler_spark.catalog import load_table
    from ncpi_whistler_spark.operators.dedup import (
        drop_exact_dups,
        minhash_lsh_pairs,
    )
    from ncpi_whistler_spark.operators.profiling import cms_estimate, cms_sketch
    from ncpi_whistler_spark.operators.relational import sequential_codes

    docs = load_table(spark, sf_dir, "documents")
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def inj(df: DataFrame, tag: str) -> DataFrame:
        # spread the input over 4 partitions first: 3 tasks succeed while
        # task 0 fails and retries, so the scenario also proves the
        # surviving tasks' partial progress combines correctly with the
        # retried task's output (the fixture would otherwise scan as a
        # single partition and the retry would be the only task).
        return inject_first_attempt_failure(df.repartition(4), marker_dir, tag)

    # 1. Exact dedup: keeper must be the min-ordered row, not whichever
    #    attempt's row arrived first.
    yield (
        "exact_dedup",
        lambda: _canon(drop_exact_dups(docs)),
        lambda: _canon(drop_exact_dups(inj(docs, "exact_dedup"))),
    )

    # 2. Sequential codes: row_number over an explicit total order.
    def _codes(src: DataFrame) -> DataFrame:
        return sequential_codes(
            src,
            partition_by=["p_brand"],
            order_by=[F.col("p_partkey")],
            prefix_col=F.lit("q"),
        ).select("p_partkey", "p_brand", "code")

    yield (
        "sequential_codes",
        lambda: _canon(_codes(part)),
        lambda: _canon(_codes(inj(part, "sequential_codes"))),
    )

    # 3. LSH candidate pairs: signatures persist()ed inside the operator;
    #    a retry during materialization must not change the pair set.
    def _pairs(src: DataFrame) -> DataFrame:
        return minhash_lsh_pairs(src, num_hashes=16, bands=4)

    yield (
        "lsh_pairs",
        lambda: _canon(_pairs(docs)),
        lambda: _canon(_pairs(inj(docs, "lsh_pairs"))),
    )

    # 4. Deterministic splits (q63 shape): pure integer arithmetic.
    def _splits(src: DataFrame) -> DataFrame:
        h = ((F.col("doc_id") % 100) * F.lit(2654435761)) % 100
        split = F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
        return (
            src.select("doc_id", "lang", split.alias("split"))
            .groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_id"))
        )

    yield (
        "splits",
        lambda: _canon(_splits(docs)),
        lambda: _canon(_splits(inj(docs, "splits"))),
    )

    # 5. CMS build + shuffle-free estimate chain (the docstring's
    #    "deterministic under partial-stage retries" claim, now proven).
    qframe = docs.select("lang").distinct()

    def _cms(src: DataFrame) -> DataFrame:
        sk = cms_sketch(src, "lang", depth=4, width=64)
        return cms_estimate(sk, qframe, "lang", depth=4, width=64)

    yield (
        "cms",
        lambda: _canon(_cms(docs)),
        lambda: _canon(_cms(inj(docs, "cms"))),
    )

    # 6. Reduce-stage retry: injection AFTER the groupBy, so the failed
    #    task is a post-shuffle reducer and the retry re-fetches map
    #    output. Partial aggregation must recombine identically.
    def _agg(injected: bool) -> list[str]:
        agg = (
            lineitem.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        if injected:
            # raw injector, NO repartition: an extra round-robin exchange
            # would move the failure past the final-aggregation stage and
            # the retry would re-read already-finalized aggregates instead
            # of re-fetching partial-agg map output (the claim under test)
            agg = inject_first_attempt_failure(agg, marker_dir, "agg_reduce")
        return _canon(agg)

    yield ("agg_reduce", lambda: _agg(False), lambda: _agg(True))

    # 7. Parquet sink exactly-once: the failed attempt's output files
    #    must be discarded by the commit protocol — the read-back equals
    #    a clean write (no duplicate rows, no missing rows).
    proj = lineitem.select("l_orderkey", "l_linenumber", "l_quantity")

    def _sink(injected: bool) -> list[str]:
        out = os.path.join(scratch, "sink_inj" if injected else "sink_clean")
        src = inj(proj, "parquet_sink") if injected else proj
        src.write.mode("overwrite").parquet(out)
        return _canon(spark.read.parquet(out))

    yield ("parquet_sink", lambda: _sink(False), lambda: _sink(True))

    # 7a. CDC merge: the latest-per-key compaction is an argmax keeper —
    #    exactly the risk class of exact_dedup (an "whichever attempt's
    #    row survived" implementation would pass every green-path test
    #    and corrupt under retries). Inject into the CHANGE LOG input:
    #    the retried task's versions must recombine with the surviving
    #    tasks' partials to the same winners, deletes included.
    def _cdc(injected: bool) -> list[str]:
        from ncpi_whistler_spark.operators.cdc import merge_upsert

        base = part.select("p_partkey", "p_name", "p_retailprice")
        key = F.col("p_partkey")
        u1 = base.where(key % 3 == 0).select(
            "p_partkey",
            F.lit("U1").alias("p_name"),
            (F.col("p_retailprice") + F.lit(10.0)).alias("p_retailprice"),
        ).withColumn("__seq", F.lit(1)).withColumn("__op", F.lit("U"))
        u2 = base.where(key % 6 == 0).select(
            "p_partkey",
            F.lit("U2").alias("p_name"),
            (F.col("p_retailprice") + F.lit(20.0)).alias("p_retailprice"),
        ).withColumn("__seq", F.lit(2)).withColumn("__op", F.lit("U"))
        dl = (
            base.where(key % 5 == 1)
            .withColumn("__seq", F.lit(3))
            .withColumn("__op", F.lit("D"))
        )
        delta = u1.unionByName(u2).unionByName(dl)
        if injected:
            delta = inj(delta, "cdc_merge")
        return _canon(
            merge_upsert(
                base, delta, keys=["p_partkey"], seq_col="__seq", op_col="__op"
            )
        )

    yield ("cdc_merge", lambda: _cdc(False), lambda: _cdc(True))

    # 7b. Python-worker HARD kill: os._exit(1) on attempt 0 — no raised
    #    exception, no clean Arrow-socket shutdown. The executor must
    #    detect the crashed worker, fail the task, and the retry must
    #    run on a fresh (or reused) worker to the same bytes.
    def _wk(injected: bool) -> list[str]:
        src = docs.repartition(4)
        if injected:
            src = hard_kill_worker_first_attempt(
                src, marker_dir, "worker_hard_kill"
            )
        return _canon(drop_exact_dups(src))

    yield ("worker_hard_kill", lambda: _wk(False), lambda: _wk(True))

    # 8/9. Task retry INSIDE a streaming micro-batch: distinct from the
    #    checkpoint-restart evidence (test_streaming) — here the QUERY
    #    keeps running while the scheduler retries one failed task of a
    #    micro-batch; the drained result must equal the clean replay.
    #    Run under BOTH state-store backends: a task retry re-opens the
    #    failed task's state-store instance, which is provider-specific
    #    code (heap snapshot vs RocksDB working dir).
    def _stream(injected: bool, provider: str) -> list[str]:
        from ncpi_whistler_spark.session import STATE_STORE_PROVIDERS
        from ncpi_whistler_spark.streaming.windows import (
            hourly_counts_stream,
            read_events_stream,
            run_stream_to_memory,
        )

        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, STATE_STORE_PROVIDERS[provider])
        try:
            stream = read_events_stream(spark, sf_dir)
            if injected:
                stream = inject_first_attempt_failure(
                    stream, marker_dir, f"stream_microbatch_{provider}"
                )
            name = f"fi_stream_{provider}_{'inj' if injected else 'clean'}"
            run_stream_to_memory(hourly_counts_stream(stream), name)
            return _canon(spark.table(name))
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    for prov in ("hdfs", "rocksdb"):
        yield (
            f"stream_microbatch_{prov}",
            lambda p=prov: _stream(False, p),
            lambda p=prov: _stream(True, p),
        )

    # 10. Task retry INSIDE the streaming CDC merge job: the foreachBatch
    #    sink's merge is a batch job launched from a running stream; one
    #    of its tasks fails on attempt 0. The scheduler retries WITHIN
    #    the micro-batch (the stream does not restart), the publish
    #    commits once, and the final versioned table bit-matches a clean
    #    drain of the same change log.
    def _stream_cdc(injected: bool) -> list[str]:
        from ncpi_whistler_spark.streaming.cdc import (
            VersionedTable,
            cdc_merge_sink,
        )

        tag = "stream_cdc_merge"
        wdir = os.path.join(scratch, f"cdc_stream_{'inj' if injected else 'clean'}")
        shutil.rmtree(wdir, ignore_errors=True)
        src = os.path.join(wdir, "src")
        os.makedirs(src)
        key = F.col("p_partkey")
        base = part.select("p_partkey", "p_name", "p_retailprice")
        changes = (
            base.where(key % 3 == 0)
            .select(
                "p_partkey",
                F.lit("U1").alias("p_name"),
                (F.col("p_retailprice") + F.lit(5.0)).alias("p_retailprice"),
            )
            .withColumn("__seq", F.lit(1))
            .withColumn("__op", F.when(key % 9 == 0, "D").otherwise("U"))
        )
        changes.coalesce(1).write.mode("append").parquet(src)
        table = VersionedTable(os.path.join(wdir, "table"))
        table.publish(base, -1)
        raw_sink = cdc_merge_sink(spark, table, ["p_partkey"], "__seq", "__op")

        def sink(mb, batch_id):
            if injected:
                mb = inject_first_attempt_failure(
                    mb.repartition(4), marker_dir, tag
                )
            raw_sink(mb, batch_id)

        q = (
            spark.readStream.schema(changes.schema)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(wdir, "cp"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "cdc stream drain timed out"
        q.stop()
        return _canon(table.read(spark))

    yield ("stream_cdc_merge", lambda: _stream_cdc(False), lambda: _stream_cdc(True))

    # 10b/10c. Round-10 publish paths under task retry: the BUCKETED
    #    incremental publish (changed buckets rewritten, rest hard-
    #    linked) and the MERGE-ON-READ delta commit (chain + read-time
    #    fold). A retried task inside the micro-batch must not corrupt
    #    the winners feeding the changed-bucket set (cow) or the chained
    #    delta (mor); the final resolved table bit-matches a clean run.
    def _stream_cdc_mode(injected: bool, mode: str, tag: str) -> list[str]:
        from ncpi_whistler_spark.streaming.cdc import (
            VersionedTable,
            cdc_merge_sink,
        )
        wdir = os.path.join(scratch, f"cdc_{mode}_{'inj' if injected else 'clean'}")
        shutil.rmtree(wdir, ignore_errors=True)
        src = os.path.join(wdir, "src")
        os.makedirs(src)
        key = F.col("p_partkey")
        base = part.select("p_partkey", "p_name", "p_retailprice")
        changes = (
            base.where(key % 3 == 0)
            .select(
                "p_partkey",
                F.lit("U1").alias("p_name"),
                (F.col("p_retailprice") + F.lit(5.0)).alias("p_retailprice"),
            )
            .withColumn("__seq", F.lit(1))
            .withColumn("__op", F.when(key % 9 == 0, "D").otherwise("U"))
        )
        changes.coalesce(1).write.mode("append").parquet(src)
        table = VersionedTable(
            os.path.join(wdir, "table"),
            bucket_cols=["p_partkey"],
            num_buckets=8,
        )
        table.publish(base, -1)
        raw_sink = cdc_merge_sink(
            spark, table, ["p_partkey"], "__seq", "__op", mode=mode
        )

        def sink(mb, batch_id):
            if injected:
                mb = inject_first_attempt_failure(
                    mb.repartition(4), marker_dir, tag
                )
            raw_sink(mb, batch_id)

        q = (
            spark.readStream.schema(changes.schema)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(wdir, "cp"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), f"cdc {mode} stream drain timed out"
        q.stop()
        return _canon(table.read(spark))

    yield (
        "stream_cdc_bucketed",
        lambda: _stream_cdc_mode(False, "cow", "stream_cdc_bucketed"),
        lambda: _stream_cdc_mode(True, "cow", "stream_cdc_bucketed"),
    )
    yield (
        "stream_cdc_mor",
        lambda: _stream_cdc_mode(False, "mor", "stream_cdc_mor"),
        lambda: _stream_cdc_mode(True, "mor", "stream_cdc_mor"),
    )


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Two worker JVMs x 2 cores x 1 GiB — the smallest real multi-process
#: Spark cluster: standalone Master + 2 Workers + 2 executor backends,
#: each executor a separate JVM with its own Python daemon/workers.
LOCAL_CLUSTER = "local-cluster[2,2,1024]"


class StandaloneCluster:
    """A real standalone Spark cluster on loopback: one Master + two
    Worker JVMs whose SPARK_LOCAL_HOSTNAME differ (127.0.0.1 vs
    localhost), so the two executors register as DIFFERENT hosts.

    Needed for the speculation scenarios: TaskSetManager's speculative
    dequeue excludes any host that already has an attempt of the task,
    so a single-host cluster (local-cluster, or two workers with the
    same hostname) never launches the racing copy."""

    MASTER_URL = "spark://127.0.0.1:7077"

    def __init__(self) -> None:
        self._procs: list = []

    def start(self) -> None:
        import subprocess

        import pyspark

        spark_class = os.path.join(
            os.path.dirname(pyspark.__file__), "bin", "spark-class"
        )

        def launch(args: list[str], hostname: str, log: str) -> None:
            env = dict(
                os.environ,
                SPARK_NO_DAEMONIZE="1",
                SPARK_LOCAL_HOSTNAME=hostname,
            )
            fh = open(log, "w")
            self._procs.append(
                subprocess.Popen(
                    [spark_class] + args,
                    env=env,
                    stdout=fh,
                    stderr=subprocess.STDOUT,
                )
            )

        launch(
            [
                "org.apache.spark.deploy.master.Master",
                "--host", "127.0.0.1", "--port", "7077", "--webui-port", "0",
            ],
            "127.0.0.1",
            os.path.join(tempfile.gettempdir(), "faultinject_master.log"),
        )
        import time as _t

        _t.sleep(5)  # master must be up before workers register
        for i, hostname in enumerate(("127.0.0.1", "localhost")):
            launch(
                [
                    "org.apache.spark.deploy.worker.Worker",
                    self.MASTER_URL,
                    "--cores", "2", "--memory", "1500m", "--webui-port", "0",
                ],
                hostname,
                os.path.join(
                    tempfile.gettempdir(), f"faultinject_worker{i}.log"
                ),
            )

    def stop(self) -> None:
        for p in self._procs:
            p.terminate()
        for p in self._procs:
            try:
                p.wait(timeout=15)
            except Exception:
                p.kill()
        self._procs.clear()


def _wait_for_executors(spark, n: int, timeout_s: int = 90) -> int:
    """Block until the driver sees >= n BlockManagers (driver + executors)."""
    import time as _t

    deadline = _t.monotonic() + timeout_s
    size = 0
    while _t.monotonic() < deadline:
        size = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
        if size >= n:
            return size
        _t.sleep(1)
    raise TimeoutError(f"only {size} block managers after {timeout_s}s")


def _boot(master: str, extra: dict[str, str] | None = None):
    from ncpi_whistler_spark import get_spark

    conf = {
        # executor JVMs are fresh processes: the package must be
        # importable in THEIR python workers (cloudpickle serializes
        # module-level functions by reference)
        "spark.executorEnv.PYTHONPATH": _REPO_ROOT,
        # under full-suite/external box load the 1024 MB executors get
        # SIGKILLed (exit 137) when CPU starvation stalls heartbeats —
        # the flake NOTES documents since r9. Generous liveness timeouts
        # keep a slow-but-alive executor alive; the suite's own kills
        # are explicit SIGKILLs, unaffected by these knobs.
        "spark.executor.heartbeatInterval": "60s",
        "spark.network.timeout": "600s",
        "spark.worker.timeout": "300",
    }
    if extra:
        conf.update(extra)
    return get_spark(
        app_name="faultinject",
        master=master,
        shuffle_partitions=8,
        extra_conf=conf,
    )


def _run_scenarios(spark, sf_dir: str) -> tuple[dict, bool]:
    marker_dir = tempfile.mkdtemp(prefix="faultinject_markers_")
    scratch = tempfile.mkdtemp(prefix="faultinject_scratch_")
    scenarios: dict = {}
    ok = True
    try:
        for name, clean, injected in _scenarios(
            spark, sf_dir, marker_dir, scratch
        ):
            want = clean()
            got = injected()
            fired = os.path.exists(os.path.join(marker_dir, f"{name}.fired"))
            match = want == got
            scenarios[name] = {
                "match": match,
                "fired": fired,
                "rows": len(want),
            }
            ok = ok and match and fired
    finally:
        shutil.rmtree(marker_dir, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)
    return scenarios, ok


def run_exec_kill(spark, sf_dir: str) -> tuple[dict, bool]:
    """Executor-loss scenarios: SIGKILL one executor JVM mid-job and
    assert FetchFailed-driven STAGE re-execution recovered bit-identical
    results (the one fault class local[N,F] cannot produce)."""
    from ncpi_whistler_spark.catalog import load_table
    from ncpi_whistler_spark.operators.dedup import (
        drop_exact_dups,
        minhash_lsh_pairs,
    )
    from ncpi_whistler_spark.operators.relational import sequential_codes

    docs = load_table(spark, sf_dir, "documents")
    part = load_table(spark, sf_dir, "part")
    marker_dir = tempfile.mkdtemp(prefix="faultinject_execkill_")
    report: dict = {}
    ok = True

    def _run(name: str, build) -> None:
        nonlocal ok
        clean_tag = f"{name}.clean"
        want = _canon(build(clean_tag, False))
        clean_counts = _map_exec_counts(marker_dir, clean_tag)
        entry: dict = {}
        # The kill is real but its PLACEMENT is scheduler-dependent: if
        # the victim executor happens to hold none of the map outputs the
        # surviving tasks need (e.g. every map task of a single-wave
        # stage landed on the other executor), the loss is VACUOUS — the
        # query completes with zero re-execution and the gate has no
        # stage-re-exec evidence to grade. That is a property of the
        # draw, not of the engine; re-arm with a fresh tag and draw
        # again (bounded), exactly like any timing-dependent fault
        # harness. A genuine determinism failure (mismatch) never
        # retries.
        for attempt in range(3):
            inj_tag = f"{name}.inj" if attempt == 0 else f"{name}.inj{attempt}"
            got = _canon(build(inj_tag, True))
            flag = os.path.join(marker_dir, f"{inj_tag}.fired")
            fired = os.path.exists(flag)
            killed_jvm_dead = False
            if fired:
                with open(flag) as fh:
                    pid = int(fh.read().strip())
                killed_jvm_dead = not os.path.exists(f"/proc/{pid}")
            inj_counts = _map_exec_counts(marker_dir, inj_tag)
            # DIFFERENTIAL evidence: the clean run establishes the plan's
            # natural per-partition execution count (a plan that scans its
            # input twice legitimately runs each map task twice); only an
            # INJECTED count strictly above the clean count proves the lost
            # shuffle output forced stage re-execution.
            reexec = sorted(
                p
                for p, c in inj_counts.items()
                if c > clean_counts.get(p, 0)
            )
            entry = {
                "match": want == got,
                "fired": fired,
                "killed_jvm_dead": killed_jvm_dead,
                "clean_map_execs": clean_counts,
                "injected_map_execs": inj_counts,
                # injected-run executions beyond the plan's natural count
                "reexecuted_map_partitions": reexec,
                "rows": len(want),
                "kill_draws": attempt + 1,
            }
            entry["ok"] = (
                entry["match"]
                and fired
                and killed_jvm_dead
                and bool(clean_counts)
                and bool(reexec)
            )
            vacuous_kill = (
                entry["match"]
                and fired
                and killed_jvm_dead
                and bool(clean_counts)
                and not reexec
            )
            if entry["ok"] or not vacuous_kill:
                break
            _wait_for_executors(spark, 2)  # let the worker respawn the JVM
        report[name] = entry
        ok = ok and entry["ok"]

    def _dedup(tag: str, injected: bool):
        src = record_task_markers(docs.repartition(4), marker_dir, tag)
        out = drop_exact_dups(src)
        if injected:
            out = kill_own_executor_jvm(out, marker_dir, tag)
        return out

    def _codes(tag: str, injected: bool):
        src = record_task_markers(part.repartition(4), marker_dir, tag)
        out = sequential_codes(
            src,
            partition_by=["p_brand"],
            order_by=[F.col("p_partkey")],
            prefix_col=F.lit("q"),
        ).select("p_partkey", "p_brand", "code")
        if injected:
            out = kill_own_executor_jvm(out, marker_dir, tag)
        return out

    def _run_stream() -> None:
        # Executor dies MID-STREAM-QUERY: the retried micro-batch tasks
        # must reload windowed-agg state from the checkpoint on the
        # surviving/replacement executor and drain to the same bytes.
        # Evidence is match+fired+pid-dead; the stage-re-execution proof
        # is carried by the two batch scenarios (a stream's recorder
        # counts are batch-cadence-dependent, so the differential rule
        # does not transfer).
        nonlocal ok
        from ncpi_whistler_spark.streaming.windows import (
            hourly_counts_stream,
            read_events_stream,
            run_stream_to_memory,
        )

        name = "exec_kill_stream"

        def drain(injected: bool):
            stream = read_events_stream(spark, sf_dir)
            if injected:
                stream = kill_own_executor_jvm(
                    stream, marker_dir, f"{name}.inj"
                )
            tbl = f"ek_stream_{'inj' if injected else 'clean'}"
            run_stream_to_memory(
                hourly_counts_stream(stream), tbl, timeout_sec=300
            )
            return spark.table(tbl)

        want = _canon(drain(False))
        got = _canon(drain(True))
        flag = os.path.join(marker_dir, f"{name}.inj.fired")
        fired = os.path.exists(flag)
        killed_jvm_dead = False
        if fired:
            with open(flag) as fh:
                pid = int(fh.read().strip())
            killed_jvm_dead = not os.path.exists(f"/proc/{pid}")
        entry = {
            "match": want == got,
            "fired": fired,
            "killed_jvm_dead": killed_jvm_dead,
            "rows": len(want),
        }
        entry["ok"] = entry["match"] and fired and killed_jvm_dead
        report[name] = entry
        ok = ok and entry["ok"]

    def _cdc_merge(tag: str, injected: bool):
        # Executor loss between change-log compaction and the merge anti
        # join: the argmax partials and the anti-join build side both
        # lived (partly) on the dead executor; re-execution must converge
        # to the same winners/deletes.
        from ncpi_whistler_spark.operators.cdc import merge_upsert

        base = part.select("p_partkey", "p_name", "p_retailprice")
        key = F.col("p_partkey")
        u1 = base.where(key % 3 == 0).select(
            "p_partkey",
            F.lit("U1").alias("p_name"),
            (F.col("p_retailprice") + F.lit(10.0)).alias("p_retailprice"),
        ).withColumn("__seq", F.lit(1)).withColumn("__op", F.lit("U"))
        u2 = base.where(key % 6 == 0).select(
            "p_partkey",
            F.lit("U2").alias("p_name"),
            (F.col("p_retailprice") + F.lit(20.0)).alias("p_retailprice"),
        ).withColumn("__seq", F.lit(2)).withColumn("__op", F.lit("U"))
        dl = (
            base.where(key % 5 == 1)
            .withColumn("__seq", F.lit(3))
            .withColumn("__op", F.lit("D"))
        )
        delta = record_task_markers(
            u1.unionByName(u2).unionByName(dl).repartition(4), marker_dir, tag
        )
        out = merge_upsert(
            base, delta, keys=["p_partkey"], seq_col="__seq", op_col="__op"
        )
        if injected:
            out = kill_own_executor_jvm(out, marker_dir, tag)
        return out

    def _lsh(tag: str, injected: bool):
        # The operator persist()s its signature frame; killing the
        # executor loses its CACHED BLOCKS along with shuffle files, so
        # the surviving executor must recompute them from lineage — a
        # third loss class (cache, not just shuffle) with the same
        # differential re-execution proof.
        src = record_task_markers(docs.repartition(4), marker_dir, tag)
        out = minhash_lsh_pairs(src, num_hashes=16, bands=4)
        if injected:
            out = kill_own_executor_jvm(out, marker_dir, tag)
        return out

    def _run_write() -> None:
        # Executor dies MID-WRITE-STAGE: beyond the task-retry sink
        # scenario (parquet_sink), this is commit-protocol-under-
        # executor-loss — the dead executor's uncommitted task-attempt
        # files must never reach the committed directory, the lost
        # upstream shuffle output must force stage re-execution, and the
        # read-back must bit-match a clean write (no duplicate, missing,
        # or partial rows). The killed attempt dies at first pull, before
        # it could request commit authorization, so the retried attempt
        # commits cleanly under the OutputCommitCoordinator.
        nonlocal ok
        name = "exec_kill_write"
        wdir = tempfile.mkdtemp(prefix="faultinject_ekwrite_")

        def _write_read(tag: str, injected: bool):
            out = os.path.join(wdir, tag.replace(".", "_"))
            src = record_task_markers(
                part.select("p_partkey", "p_name", "p_retailprice")
                .repartition(4),
                marker_dir,
                tag,
            ).repartition(2)
            if injected:
                src = kill_own_executor_jvm(src, marker_dir, tag)
            src.write.mode("overwrite").parquet(out)
            temp_left = any(
                d.startswith("_temporary")
                for _, dirs, _ in os.walk(out)
                for d in dirs
            ) or os.path.exists(os.path.join(out, "_temporary"))
            committed = os.path.exists(os.path.join(out, "_SUCCESS"))
            return _canon(spark.read.parquet(out)), committed, temp_left

        try:
            clean_tag = f"{name}.clean"
            want, c_ok, c_tmp = _write_read(clean_tag, False)
            clean_counts = _map_exec_counts(marker_dir, clean_tag)
            # same bounded re-draw as _run: a kill whose victim held no
            # map output the survivors need is vacuous (no re-execution
            # to grade), so re-arm with a fresh tag; a mismatch never
            # retries
            for attempt in range(3):
                inj_tag = f"{name}.inj" if attempt == 0 else f"{name}.inj{attempt}"
                got, i_ok, i_tmp = _write_read(inj_tag, True)
                flag = os.path.join(marker_dir, f"{inj_tag}.fired")
                fired = os.path.exists(flag)
                killed_jvm_dead = False
                if fired:
                    with open(flag) as fh:
                        pid = int(fh.read().strip())
                    killed_jvm_dead = not os.path.exists(f"/proc/{pid}")
                inj_counts = _map_exec_counts(marker_dir, inj_tag)
                reexec = sorted(
                    p for p, c in inj_counts.items() if c > clean_counts.get(p, 0)
                )
                entry = {
                    "match": want == got,
                    "fired": fired,
                    "killed_jvm_dead": killed_jvm_dead,
                    "clean_map_execs": clean_counts,
                    "injected_map_execs": inj_counts,
                    "reexecuted_map_partitions": reexec,
                    "committed_success_marker": c_ok and i_ok,
                    "temporary_residue": c_tmp or i_tmp,
                    "rows": len(want),
                    "kill_draws": attempt + 1,
                }
                entry["ok"] = (
                    entry["match"]
                    and fired
                    and killed_jvm_dead
                    and bool(reexec)
                    and entry["committed_success_marker"]
                    and not entry["temporary_residue"]
                )
                vacuous_kill = entry["match"] and fired and killed_jvm_dead and not reexec
                if entry["ok"] or not vacuous_kill:
                    break
                _wait_for_executors(spark, 2)  # let the worker respawn the JVM
            report[name] = entry
            ok = ok and entry["ok"]
        finally:
            shutil.rmtree(wdir, ignore_errors=True)

    def _run_commit_kill() -> None:
        # Executor dies INSIDE THE STAGE'S COMMIT WINDOW — the boundary
        # exec_kill_write leaves untested (its kill fires at first pull,
        # before any commit authorization). Here the victim task has
        # FINISHED streaming its data (its Python generator returned, so
        # the executor is draining the arrow stream, closing the parquet
        # footer, requesting canCommit from the driver's
        # OutputCommitCoordinator, and renaming its attempt dir) and at
        # least one SIBLING task has already committed (its task_* dir is
        # visible under _temporary) — i.e. the coordinator has granted
        # authorizations and the stage is partially committed. A driver-
        # side watcher SIGKILLs the victim's executor JVM in exactly that
        # state. The coordinator must then revoke/release the lost
        # attempt's authorization (ExecutorLostFailure frees the commit
        # lock), authorize the retried attempt, and the v1 committer must
        # tolerate a possibly-already-renamed task dir — the read-back
        # must bit-match a clean write with _SUCCESS and zero _temporary
        # residue. Landing between one specific canCommit RPC and its
        # rename is inherently probabilistic from outside the JVM, so the
        # scenario retries until the watcher catches the window (the
        # pyend-marker gating makes each try a genuine commit-phase kill
        # or a no-op, never a mid-write kill).
        nonlocal ok
        import re
        import signal
        import threading
        import time as _t

        name = "exec_kill_commit"
        wdir = tempfile.mkdtemp(prefix="faultinject_ekcommit_")
        rows_df = (
            spark.range(0, 200_000, 1, 4)
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 997).cast("double").alias("val"),
                F.sha1(F.col("id").cast("string")).alias("payload"),
            )
        )
        schema = rows_df.schema

        def staged(tag: str):
            """Write-stage tasks record start markers + their executor
            JVM pid, stream their batches (partition 0 gets a head
            start so one sibling commit lands first), and drop a pyend
            marker the moment their generator returns — the observable
            'task entered its commit path' signal."""

            def gen(batches):
                from pyspark import TaskContext

                tc = TaskContext.get()
                p = tc.partitionId()
                os.makedirs(marker_dir, exist_ok=True)
                open(
                    os.path.join(
                        marker_dir, f"{tag}.map.p{p}.t{tc.taskAttemptId()}"
                    ),
                    "w",
                ).close()
                # resolve our executor JVM pid (ancestor walk, as in
                # kill_own_executor_jvm) so the driver-side watcher can
                # target THIS partition's executor
                pid, jvm = os.getppid(), None
                for _ in range(10):
                    try:
                        with open(f"/proc/{pid}/cmdline", "rb") as fh:
                            cmd = fh.read().decode(errors="replace")
                        with open(f"/proc/{pid}/stat") as fh:
                            stat = fh.read()
                    except OSError:
                        break
                    if "CoarseGrainedExecutorBackend" in cmd:
                        jvm = pid
                        break
                    pid = int(stat.rsplit(")", 1)[1].split()[1])
                if jvm is not None:
                    with open(
                        os.path.join(marker_dir, f"{tag}.exec.p{p}"), "w"
                    ) as fh:
                        fh.write(str(jvm))
                first = True
                for pdf in batches:
                    yield pdf
                    if first and p != 0:
                        _t.sleep(0.5)  # partition 0 commits first
                        first = False
                open(
                    os.path.join(marker_dir, f"{tag}.pyend.p{p}"), "w"
                ).close()

            return rows_df.mapInPandas(gen, schema)

        def _committed_parts(out: str) -> set[int]:
            got = set()
            tmp = os.path.join(out, "_temporary")
            if not os.path.isdir(tmp):
                return got
            for root, dirs, _ in os.walk(tmp):
                for d in dirs:
                    m = re.match(r"task_.*_m_(\d+)$", d)
                    if m:
                        got.add(int(m.group(1)))
            return got

        def watcher(out: str, tag: str, done: threading.Event, res: dict):
            while not done.is_set():
                committed = _committed_parts(out)
                if committed:
                    pyend = set()
                    for n in os.listdir(marker_dir):
                        if n.startswith(f"{tag}.pyend.p"):
                            pyend.add(int(n[len(f"{tag}.pyend.p"):]))
                    for p in sorted(pyend - committed):
                        pidf = os.path.join(marker_dir, f"{tag}.exec.p{p}")
                        try:
                            with open(pidf) as fh:
                                pid = int(fh.read().strip())
                            os.kill(pid, signal.SIGKILL)
                        except (OSError, ValueError):
                            continue
                        res.update(
                            fired=True,
                            victim_partition=p,
                            victim_pid=pid,
                            committed_before_kill=sorted(committed),
                        )
                        return
                _t.sleep(0.002)

        def _write_read(tag: str, injected: bool):
            out = os.path.join(wdir, tag.replace(".", "_"))
            res: dict = {"fired": False}
            done = threading.Event()
            th = None
            if injected:
                th = threading.Thread(
                    target=watcher, args=(out, tag, done, res), daemon=True
                )
                th.start()
            try:
                staged(tag).write.mode("overwrite").parquet(out)
            finally:
                done.set()
                if th:
                    th.join(timeout=5)
            temp_left = os.path.exists(os.path.join(out, "_temporary"))
            committed = os.path.exists(os.path.join(out, "_SUCCESS"))
            return _canon(spark.read.parquet(out)), committed, temp_left, res

        try:
            want, c_ok, c_tmp, _ = _write_read(f"{name}.clean", False)
            tries = 0
            res: dict = {"fired": False}
            got, i_ok, i_tmp = want, False, True
            while tries < 6:
                tries += 1
                tag = f"{name}.inj{tries}"
                got, i_ok, i_tmp, res = _write_read(tag, True)
                if res["fired"]:
                    break
            victim = res.get("victim_partition")
            inj_counts = _map_exec_counts(marker_dir, tag)
            victim_retried = (
                victim is not None
                and inj_counts.get(f"p{victim}", 0) >= 2
            )
            killed_jvm_dead = res["fired"] and not os.path.exists(
                f"/proc/{res.get('victim_pid')}"
            )
            entry = {
                "match": want == got,
                "fired": res["fired"],
                "tries": tries,
                "victim_partition": victim,
                "committed_before_kill": res.get("committed_before_kill"),
                "killed_jvm_dead": killed_jvm_dead,
                "injected_map_execs": inj_counts,
                "victim_task_retried": victim_retried,
                "committed_success_marker": c_ok and i_ok,
                "temporary_residue": c_tmp or i_tmp,
                "rows": len(want),
            }
            entry["ok"] = (
                entry["match"]
                and entry["fired"]
                and killed_jvm_dead
                and bool(entry["committed_before_kill"])
                and victim_retried
                and entry["committed_success_marker"]
                and not entry["temporary_residue"]
            )
            report[name] = entry
            ok = ok and entry["ok"]
        finally:
            shutil.rmtree(wdir, ignore_errors=True)

    try:
        _run("exec_kill_dedup", _dedup)
        _run("exec_kill_codes", _codes)
        _run("exec_kill_lsh_cache", _lsh)
        _run("exec_kill_cdc_merge", _cdc_merge)
        _run_stream()
        _run_write()
        _run_commit_kill()
    finally:
        shutil.rmtree(marker_dir, ignore_errors=True)
    return report, ok


def run_speculation(spark, sf_dir: str) -> tuple[dict, bool]:
    """Speculative-execution determinism: a stalled attempt 0 provokes a
    concurrent speculative attempt 1 of the SAME task on the other
    executor; the committed result must bit-match a clean run."""
    from ncpi_whistler_spark.catalog import load_table
    from ncpi_whistler_spark.operators.dedup import drop_exact_dups
    from ncpi_whistler_spark.operators.relational import sequential_codes

    docs = load_table(spark, sf_dir, "documents")
    part = load_table(spark, sf_dir, "part")
    marker_dir = tempfile.mkdtemp(prefix="faultinject_spec_")
    report: dict = {}
    ok = True

    def _run(name: str, build) -> None:
        nonlocal ok
        inj_tag = f"{name}.inj"
        want = _canon(build(None, False))
        got = _canon(build(inj_tag, True))
        prefix = f"{inj_tag}.attempt.p0.a"
        attempts = sorted(
            int(n[len(prefix):])
            for n in os.listdir(marker_dir)
            if n.startswith(prefix)
        )
        entry = {
            "match": want == got,
            "slow_partition_attempts": attempts,
            # >=2 attempts of the same task = the speculative copy launched
            "speculated": len(attempts) >= 2,
            "rows": len(want),
        }
        entry["ok"] = entry["match"] and entry["speculated"]
        report[name] = entry
        ok = ok and entry["ok"]

    def _dedup(tag, injected: bool):
        src = docs.repartition(4)
        if injected:
            src = slow_first_attempt(src, marker_dir, tag)
        return drop_exact_dups(src)

    def _codes(tag, injected: bool):
        src = part.repartition(4)
        if injected:
            src = slow_first_attempt(src, marker_dir, tag)
        return sequential_codes(
            src,
            partition_by=["p_brand"],
            order_by=[F.col("p_partkey")],
            prefix_col=F.lit("q"),
        ).select("p_partkey", "p_brand", "code")

    try:
        _run("speculation_dedup", _dedup)
        _run("speculation_codes", _codes)
    finally:
        shutil.rmtree(marker_dir, ignore_errors=True)
    return report, ok


def run_modes(sf_dir: str, out_path: str | None, mode: str) -> int:
    report: dict = {"sf_dir": sf_dir}
    ok = True

    if mode in ("local", "all"):
        # local[4,2]: 4 task threads, spark.task.maxFailures=2 — ONE
        # retry per task, which is exactly what the injector consumes.
        spark = _boot("local[4,2]")
        try:
            scen, s_ok = _run_scenarios(spark, sf_dir)
        finally:
            spark.stop()
        report["master"] = "local[4,2]"
        report["scenarios"] = scen
        ok = ok and s_ok

    if mode in ("cluster", "all"):
        spark = _boot(LOCAL_CLUSTER)
        try:
            # force executor registration before counting (right after
            # boot only the driver has a BlockManager)
            spark.range(1000).repartition(4).count()
            n_exec = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
            scen, s_ok = _run_scenarios(spark, sf_dir)
            kill, k_ok = run_exec_kill(spark, sf_dir)
            n_exec_after = (
                spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
            )
        finally:
            spark.stop()
        report["local_cluster"] = {
            "master": LOCAL_CLUSTER,
            # driver + 2 executors before; replacements keep it >= that
            "executors_with_driver_before": n_exec,
            "executors_with_driver_after": n_exec_after,
            "scenarios": scen,
            "exec_kill": kill,
        }
        ok = ok and s_ok and k_ok

    if mode in ("speculation", "all"):
        cluster = StandaloneCluster()
        cluster.start()
        try:
            import sys as _sys

            spark = _boot(
                cluster.MASTER_URL,
                extra={
                    "spark.driver.host": "127.0.0.1",
                    "spark.executor.memory": "1024m",
                    "spark.cores.max": "4",
                    "spark.pyspark.python": _sys.executable,
                    "spark.speculation": "true",
                    "spark.speculation.interval": "100ms",
                    "spark.speculation.multiplier": "1.2",
                    "spark.speculation.quantile": "0.25",
                },
            )
            try:
                n_exec = _wait_for_executors(spark, 3)
                spec, p_ok = run_speculation(spark, sf_dir)
            finally:
                spark.stop()
        finally:
            cluster.stop()
        report["speculation"] = {
            "master": cluster.MASTER_URL
            + " (standalone, 2 workers on distinct host strings)",
            "executors_with_driver": n_exec,
            "conf": "speculation on: interval=100ms multiplier=1.2 quantile=0.25",
            "scenarios": spec,
        }
        ok = ok and p_ok

    report["ok"] = ok
    line = json.dumps(report)
    print(line)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
    return 0 if ok else 1


def run_negative_control(sf_dir: str, mode: str = "local") -> int:
    """With retries disabled the injected failure must kill the job —
    proving the injector actually fails attempt 0 and the main suite's
    green comes from a real retry, not a no-op wrapper.

    ``mode=local`` runs on plain local[4] (maxFailures=1 implicitly);
    ``mode=cluster`` runs on local-cluster with
    ``spark.task.maxFailures=1`` explicitly — same proof for the
    multi-JVM suite (cluster defaults allow 3 retries, so the cluster
    green needs its own control)."""
    from ncpi_whistler_spark.catalog import load_table

    if mode == "cluster":
        spark = _boot(LOCAL_CLUSTER, extra={"spark.task.maxFailures": "1"})
        label = LOCAL_CLUSTER + " maxFailures=1"
    else:
        spark = _boot("local[4]")
        label = "local[4]"
    marker_dir = tempfile.mkdtemp(prefix="faultinject_negctl_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        try:
            inject_first_attempt_failure(
                docs.repartition(4), marker_dir, "negctl"
            ).count()
        except Exception:
            fired = os.path.exists(os.path.join(marker_dir, "negctl.fired"))
            print(
                json.dumps(
                    {
                        "negative_control": "failed_as_expected",
                        "master": label,
                        "fired": fired,
                    }
                )
            )
            return 0 if fired else 1
        print(
            json.dumps(
                {"negative_control": "UNEXPECTED_SUCCESS", "master": label}
            )
        )
        return 1
    finally:
        shutil.rmtree(marker_dir, ignore_errors=True)
        spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR_TEST",
                                           "/root/testdata/sf0.001")
    )
    ap.add_argument("--out", default=None)
    ap.add_argument("--negative-control", action="store_true")
    ap.add_argument(
        "--mode",
        choices=["local", "cluster", "speculation", "all"],
        default="local",
        help="local = single-JVM local[4,2] retry suite; cluster = the "
        "same suite plus executor-kill on local-cluster[2,2,1024]; "
        "speculation = concurrent-attempt race; all = everything",
    )
    args = ap.parse_args()
    if args.negative_control:
        return run_negative_control(
            args.sf_dir, "cluster" if args.mode == "cluster" else "local"
        )
    return run_modes(args.sf_dir, args.out, args.mode)


if __name__ == "__main__":
    sys.exit(main())
