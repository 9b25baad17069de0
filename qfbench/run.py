#!/usr/bin/env python3
"""Quality-filter benchmark: a closed loop of pipeline ops on local[nproc/2].

    python3 qfbench/run.py --workload balanced --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process stages the workload's corpus and
its reference labels (cached), starts Spark, warms up on a tiny corpus, then
runs one op at a time for ``--seconds`` (at least ``MIN_OPS`` ops), checks
every op's labels against ``reference.run_reference`` and prints one JSON
object as its last line: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  See qfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".qfbench_work")
MIN_OPS = 3           # timed ops per run, whatever --seconds allows
MIN_TRACED_OPS = 5    # traced runs: one untraced op, then U T T U ...
KERNEL_SAMPLE = 4000  # texts in the single-thread kernel sample

import procfs  # noqa: E402  (qfbench/ is sys.path[0] when run as a script)

E2E_UNITS = {
    "turns_per_s": "turns/s", "cpu_s_per_mturn": "s/Mturn",
    "shuffle_mb_per_mturn": "MB/Mturn", "worker_peak_rss_mb": "MB",
    "setup_s": "s", "ok_frac": "frac",
}

LAYER_UNITS = {
    "session.get_spark.s": "s",
    "pipeline.input_salt_decision.s": "s",
    "pipeline.input_salt_decision.jobs": "count",
    "pipeline.input_salt_decision.kept": "count",
    "pipeline.featurize.python_s": "s",
    "pipeline.featurize.to_python_mb": "MB",
    "pipeline.featurize.from_python_mb": "MB",
    "pipeline.featurize.task_s": "s",
    "pipeline.featurize.salt_shuffle_mb": "MB",
    "quality.text_features.us_per_turn": "us",
    "langid.detect_language.us_per_turn": "us",
    "perplexity.perplexity.us_per_turn": "us",
    "scrub.scrub_series_sparse.us_per_turn": "us",
    "masks.lu_mask_key_series.us_per_turn": "us",
    "pipeline.mask_frequency_dict.python_s": "s",
    "pipeline.mask_frequency_dict.to_python_mb": "MB",
    "pipeline.mask_frequency_dict.from_python_mb": "MB",
    "pipeline.mask_frequency_dict.task_s": "s",
    "pipeline.mask_frequency_dict.rows": "count",
    "pipeline.with_mask_frequency.broadcast_mb": "MB",
    "pipeline.conversation_layout.shuffle_mb": "MB",
    "pipeline.conversation_layout.task_s": "s",
    "pipeline.conversation_layout.task_skew": "ratio",
    "pipeline.conversation_layout.spill_mb": "MB",
    "pipeline.output_write.s": "s",
    "pipeline.output_write.mb": "MB",
    "pipeline.write_snapshot.s": "s",
    "pipeline.write_snapshot.calls": "count",
    "pipeline.write_snapshot.mb": "MB",
    "pipeline.run_with_checkpoints.s": "s",
    "pipeline.run_incremental.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "trace.overhead_frac": "frac",
    "trace.coverage": "frac",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["balanced", "whale", "resumable"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="corpus size multiplier, for the sizing evidence")
    return p.parse_args(argv)


def pin_environment(run_dir: str) -> dict:
    """Everything Spark and its Python workers inherit, kept inside the
    work directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    import tempfile
    tempfile.tempdir = None
    return env


def run_op(kind: str, spark, corpus, out_dir: str, tracer) -> str:
    """One op; returns the directory of the labels it committed."""
    from bytefreq_spark import pipeline

    if kind == "resumable":
        base = spark.read.parquet(*corpus.files("base"))
        delta = spark.read.parquet(*corpus.files("delta"))
        pipeline.run_with_checkpoints(spark, base, out_dir)
        pipeline.run_incremental(spark, delta, out_dir)
        v = pipeline.snapshot_versions(out_dir, "labels")[-1]
        return os.path.join(out_dir, "labels", f"v{v}")
    labeled = pipeline.quality_filter(spark.read.parquet(*corpus.files("base")))
    if tracer is None:
        labeled.write.parquet(out_dir)
    else:
        with tracer.span("pipeline.output_write"):
            labeled.write.parquet(out_dir)
    return out_dir


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until both have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    jvm_tree = procfs.process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    # the PySpark daemon and its workers are the JVM's, not ours to reap:
    # once the JVM has gone they are no longer in our process tree
    wait_ended(jvm_tree[1:])


def wait_ended(pids, timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill what is left
    at the deadline."""
    deadline = time.time() + timeout
    while True:
        left = [p for p in pids if procfs.running(p)]
        if not left:
            return
        if time.time() > deadline:
            print(f"qfbench: killing processes still running: {left}",
                  file=sys.stderr)
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def reap_children() -> None:
    """Stop every process this one started and wait until each has ended.

    Staging's process pool starts multiprocessing's resource tracker, which
    would otherwise outlive this process by a moment."""
    gc.collect()  # the pool's semaphores unregister while the tracker runs
    from multiprocessing import resource_tracker
    tracker = getattr(resource_tracker, "_resource_tracker", None)
    if tracker is not None and hasattr(tracker, "_stop"):
        tracker._stop()  # closes its pipe and waits for it
    wait_ended(procfs.process_tree()[1:])


def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer_metrics(op: dict, st, tracer, kernels: dict, get_spark_s: float) -> dict:
    """Per-layer values of one traced op, in BENCHMARK.json's units."""
    i, t0, t1 = op["i"], op["start"], op["end"]
    salt = tracer.of_op(i, "pipeline.input_salt_decision")
    snaps = tracer.of_op(i, "pipeline.write_snapshot")
    snap_iv = [(s["start"], s["end"]) for s in snaps]
    in_snap = [any(a <= w[0] <= b for a, b in snap_iv) for w in st.writes]
    node = st.node
    conv_tasks = st.layer_tasks.get("conversation_layout", [])
    m = {
        "session.get_spark.s": get_spark_s,
        "pipeline.input_salt_decision.s": sum(s["end"] - s["start"] for s in salt),
        "pipeline.input_salt_decision.jobs": sum(
            any(s["start"] <= t <= s["end"] for s in salt) for t in st.job_submit),
        "pipeline.input_salt_decision.kept": sum(bool(s.get("kept")) for s in salt),
        "pipeline.featurize.salt_shuffle_mb": node[("salt", "shuffle bytes written")],
        "pipeline.with_mask_frequency.broadcast_mb": node[("with_mask_frequency", "data size")],
        "pipeline.mask_frequency_dict.rows": node[("mask_frequency_dict.agg", "number of output rows")],
        "pipeline.conversation_layout.shuffle_mb": node[(
            "conversation_layout.exchange", "shuffle bytes written")],
        "pipeline.conversation_layout.task_s": sum(conv_tasks),
        "pipeline.conversation_layout.task_skew": (
            max(conv_tasks) / statistics.median(conv_tasks)
            if conv_tasks and statistics.median(conv_tasks) > 0 else 0.0),
        "pipeline.conversation_layout.spill_mb": st.layer_spill_mb.get(
            "conversation_layout", 0.0),
        "pipeline.output_write.s": sum(w[2] for w, s in zip(st.writes, in_snap) if not s),
        "pipeline.output_write.mb": sum(w[1] for w, s in zip(st.writes, in_snap) if not s),
        "pipeline.write_snapshot.s": sum(b - a for a, b in snap_iv),
        "pipeline.write_snapshot.calls": len(snaps),
        "pipeline.write_snapshot.mb": sum(w[1] for w, s in zip(st.writes, in_snap) if s),
        "pipeline.run_with_checkpoints.s": sum(
            s["end"] - s["start"] for s in tracer.of_op(i, "pipeline.run_with_checkpoints")),
        "pipeline.run_incremental.s": sum(
            s["end"] - s["start"] for s in tracer.of_op(i, "pipeline.run_incremental")),
        "spark.jobs": len(st.jobs),
        "spark.stages": len(st.stages),
        "spark.tasks": st.tasks,
        "spark.gc_s": st.gc_s,
        "trace.coverage": union_length(
            [(max(a, t0), min(b, t1)) for a, b in st.layer_stage_span.values()
             if b > t0 and a < t1]
            + [(s["start"], s["end"]) for s in salt]) / (t1 - t0),
    }
    for layer in ("featurize", "mask_frequency_dict"):
        m[f"pipeline.{layer}.python_s"] = node[(layer, "time to run Python workers")]
        m[f"pipeline.{layer}.to_python_mb"] = node[(layer, "data sent to Python workers")]
        m[f"pipeline.{layer}.from_python_mb"] = node[(layer, "data returned from Python workers")]
        m[f"pipeline.{layer}.task_s"] = sum(st.layer_tasks.get(layer, []))
    m.update(kernels)
    return m


def main(argv=None) -> int:
    t_proc = time.time() - procfs.process_age_s()
    args = parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "bytefreq_spark", "__init__.py")):
        print(f"qfbench: no bytefreq_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    # a SIGTERM unwinds like an error, so Spark and the pool are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env = pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, run_dir, env, t_proc)
    finally:
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, env: dict, t_proc: float) -> int:
    import pyspark

    import corpus as corpora
    import eventlog
    from bytefreq_spark import pipeline
    from bytefreq_spark.session import get_spark
    from tracing import Tracer, kernel_us_per_turn

    t_imported = time.time()
    nproc = os.cpu_count() or 1
    slots = max(1, nproc // 2)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "nproc": nproc,
        "task_slots": slots, "loadavg_start": procfs.loadavg(),
        "steal_s_start": procfs.host_steal_s(),
        "pyspark": pyspark.__version__, "python": sys.version.split()[0],
        "env": env,
    }

    # -- load generation: excluded from every metric ----------------------
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    corpus = corpora.stage(cache, args.workload, args.seed, args.scale)
    warm = corpora.stage(cache, args.workload, corpora.WARMUP_SEED,
                         corpora.WARMUP_SCALE, with_reference=False)
    t_staged = time.time()
    record["staging"] = {
        "wall_s": t_staged - t_imported, **{
            k: corpus.meta.get(k) for k in (
                "turns", "part_turns", "text_mb", "staging_s", "reference_s",
                "dict_cardinality", "shape")}}

    # -- set-up: session start and warm-up --------------------------------
    ev_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(ev_dir)
    t0 = time.time()
    spark = get_spark("qfbench", cores=slots, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + ev_dir,
        "spark.eventLog.compress": "false",  # default zstd needs zstandard
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    })
    get_spark_s = time.time() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        if corpus.meta["shape"]["whale_len"]:
            # one input partition per staged file, as on a cluster with more
            # files than task slots: by default local[2] packs a small corpus
            # into two partitions, and no layout of two is skewed to the probe
            spark.conf.set("spark.sql.files.minPartitionNum",
                           str(len(corpus.files("base"))))
        tracer = Tracer()
        t0 = time.time()
        run_op(args.workload, spark, warm, os.path.join(run_dir, "warmup"), None)
        t_ready = time.time()
        setup_s = (t_ready - t_proc) - (t_staged - t_imported)
        record["setup"] = {
            "imports_s": t_imported - t_proc, "get_spark_s": get_spark_s,
            "warmup_op_s": t_ready - t0, "setup_s": setup_s}

        # -- closed loop ----------------------------------------------------
        ops, hwm = [], {}
        min_ops = MIN_TRACED_OPS if args.trace else MIN_OPS
        loop_start = time.time()
        while len(ops) < min_ops or time.time() - loop_start < args.seconds:
            i = len(ops)
            # op 0 runs slower than later ops (JIT), so the overhead
            # comparison starts at op 1, in balanced U T T U order
            traced = bool(args.trace) and i > 0 and i % 4 in (2, 3)
            sc.setLocalProperty(eventlog.OP_PROPERTY, str(i))
            tracer.op = i
            if traced:
                tracer.install(pipeline)
            op = {"i": i, "traced": traced, "error": None}
            cpu0, steal0 = procfs.tree_cpu_s(), procfs.host_steal_s()
            op["start"] = time.time()
            try:
                op["labels"] = run_op(args.workload, spark, corpus,
                                      os.path.join(run_dir, f"out-{i}"),
                                      tracer if traced else None)
            except Exception as e:  # a failed op counts against ok_frac
                op["error"] = f"{type(e).__name__}: {e}"[:2000]
            op["end"] = time.time()
            op["wall_s"] = op["end"] - op["start"]
            op["cpu_s"] = procfs.tree_cpu_s() - cpu0
            op["steal_s"] = procfs.host_steal_s() - steal0
            if traced:
                tracer.uninstall(pipeline)
            for pid, mb in procfs.python_worker_hwm_mb().items():
                hwm[pid] = max(mb, hwm.get(pid, 0.0))
            ops.append(op)
        sc.setLocalProperty(eventlog.OP_PROPERTY, None)
        tracer.op = None
        target = sc.defaultParallelism * 2
        salt = pipeline.input_salt_decision(
            spark.read.parquet(*corpus.files("base")), target)
        record["staging"]["salt_decision"] = salt
    finally:
        stop_spark(spark)
    phases = {"loop_end": ops[-1]["end"] if ops else None, "stopped": time.time()}

    # -- correctness -------------------------------------------------------
    expected = corpora.expected_labels(corpus)
    for op in ops:
        if op["error"] is None:
            op["mismatches"] = corpora.count_mismatches(
                corpora.read_labels(op["labels"]), expected)
        op["ok"] = op["error"] is None and op["mismatches"] == 0
        shutil.rmtree(os.path.join(run_dir, f"out-{op['i']}"), ignore_errors=True)

    phases["checked"] = time.time()

    # -- metrics -------------------------------------------------------------
    logs = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
    stats = eventlog.read(logs[0])
    for op in ops:
        st = stats.get(op["i"])
        op["shuffle_mb"] = st.shuffle_bytes / 1e6 if st else 0.0
    done = [op for op in ops if op["error"] is None]
    mturns = corpus.turns / 1e6
    n_ok = sum(op["ok"] for op in ops)
    if args.trace:
        kernels = kernel_us_per_turn(
            corpora.sample_texts(corpus.files("base")[0], KERNEL_SAMPLE))
        per_op = [layer_metrics(op, stats[op["i"]], tracer, kernels, get_spark_s)
                  for op in done if op["traced"]]
        untraced = [op["wall_s"] for op in done if not op["traced"] and op["i"]]
        traced = [op["wall_s"] for op in done if op["traced"]]
        values = {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}
        values["trace.overhead_frac"] = (
            statistics.median(traced) / statistics.median(untraced) - 1)
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in values.items()}
        record["spans"] = tracer.spans
    else:
        walls = [op["wall_s"] for op in done]
        values = {
            "turns_per_s": corpus.turns / statistics.median(walls),
            "cpu_s_per_mturn": statistics.median(op["cpu_s"] for op in done) / mturns,
            "shuffle_mb_per_mturn": statistics.median(
                op["shuffle_mb"] for op in done) / mturns,
            "worker_peak_rss_mb": max(hwm.values(), default=0.0),
            "setup_s": setup_s,
            "ok_frac": n_ok / len(ops),
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    phases["measured"] = time.time()
    record["phases"] = phases
    record["ops"] = ops
    record["metrics"] = metrics
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"qfbench: {args.workload} seed={args.seed} ops={len(ops)} "
          f"ok={n_ok} turns={corpus.turns} record={os.path.relpath(rec_path, ROOT)}")
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": n_ok == len(ops), "attempted": len(ops),
                      "failed": len(ops) - n_ok, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
