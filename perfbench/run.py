"""Benchmark of the engine, measured from outside the package.

Usage (from the checkout root):

    python3 perfbench/run.py --workload batch_mix --seed 1 \
        --seconds 10 --trace 0

Workloads (one client each):
  batch_mix     closed loop over the reference's batch job,
                wordcount_text_dir -> write_tsv on a seeded 33 MB corpus,
                and four star-schema and LLM-data registry queries on
                seeded parquet tables, each checked against its DuckDB
                oracle
  kafka_stream  the reference's Kafka -> windowed word count -> Kafka
                JSON stream, fed open-loop by a separate producer process

Inputs are generated once per seed under ``perfbench/.data/``, in a child
process, outside both the timed region and ``setup_s``. ``setup_s`` runs
from process start to a warm session: two unchecked passes over the batch
operations, or the stream's first micro-batch. Every operation's result
is checked outside the timed region.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
``end_to_end`` metrics of BENCHMARK.json, with ``--trace 1`` its
``per_layer`` metrics: Spark counters per pass over the operations (per
micro-batch for the stream), span self times summed over the run, and
``trace.overhead_share``, the traced minus the untraced wall time of the
run's alternately traced operations over the untraced. The traced run
writes its spans to ``perfbench/.data/traces/``. Failed operations are
named on stderr with the error rate.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import importlib.util
import json
import multiprocessing
import shutil
import sys
import time
from pathlib import Path

from common import (
    BENCH_DIR,
    DATA_DIR,
    Outcome,
    RssSampler,
    end_children,
    pin_environment,
    process_start_time,
    session_conf,
    stop_spark,
)
from spans import SparkStatus, Tracer, add_into

BATCH = ("batch_mix",)
WORKLOADS = BATCH + ("kafka_stream",)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--tiny", action="store_true",
        help="tiny inputs, for the benchmark's own tests",
    )
    p.add_argument(
        "--expect-wrong", action="store_true",
        help="perturb every expected result (tests prove checks are live)",
    )
    return p.parse_args(argv)


def setup_session(tracer: Tracer, layer: dict[str, float]):
    """registry.load_all then session.get_spark, each timed and spanned."""
    t0 = time.perf_counter()
    with tracer.span("registry.load_all"):
        from hadoop_spark_pspd_spark.registry import load_all

        reg = load_all()
    t1 = time.perf_counter()
    with tracer.span("session.get_spark"):
        from hadoop_spark_pspd_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf=session_conf())
    t2 = time.perf_counter()
    layer["registry.load_all_s"] = t1 - t0
    layer["session.get_spark_s"] = t2 - t1
    return reg, spark


def generate(seed: int, tiny: bool) -> tuple[Path, dict, Path, tuple]:
    """Write the batch inputs once per seed: the WordCount corpus with its
    ledger, and the query tables with their bytes and rows. Run in a child
    process so that its imports stay out of ``setup_s``."""
    import batch
    import tables

    lines = batch.WC_TINY_LINES_PER_FILE if tiny else batch.WC_LINES_PER_FILE
    corpus = DATA_DIR / f"wordcount-{seed}-{lines}"
    ledger = batch.make_corpus(seed, corpus, lines)
    scale = batch.QUERY_TINY_SCALE if tiny else batch.QUERY_SCALE
    data = tables.make_tables(seed, DATA_DIR / f"tables-{seed}-{scale}",
                              scale)
    return corpus, ledger, data, tables.sizes(data)


def run_batch(args, tracer: Tracer, layer: dict, outcome: Outcome,
              t_proc: float, t_main: float) -> dict:
    ctx = multiprocessing.get_context("spawn")
    with concurrent.futures.ProcessPoolExecutor(1, mp_context=ctx) as pool:
        corpus, ledger, data, (table_bytes, table_rows) = pool.submit(
            generate, args.seed, args.tiny
        ).result()
    import batch

    t_setup = time.time()
    with tracer.span("setup"):
        reg, spark = setup_session(tracer, layer)
        ops = [batch.wordcount_op(spark, corpus, ledger, args.expect_wrong)]
        ops += batch.query_ops(spark, data, batch.QUERIES, reg,
                               args.expect_wrong)
        inputs = batch.Inputs(ops, ledger["bytes"] + table_bytes,
                              ledger["lines"] + table_rows)
        tracer.enabled = False  # the unchecked warm-up passes are set-up
        for _ in range(batch.WARM_PASSES):
            for op in inputs.ops:
                try:
                    batch.run_one(spark, op, tracer, "perfbench-warm")
                except Exception as e:  # noqa: BLE001 - a failed op counts
                    outcome.check(f"{op.name} (warm-up)",
                                  [batch.describe(e)])
        tracer.enabled = bool(args.trace)
    setup_s = (t_main - t_proc) + (time.time() - t_setup)
    res = batch.run_loop(spark, inputs, args.seconds, args.seed, tracer,
                         bool(args.trace), outcome)
    stop_spark(spark)
    shutil.rmtree(corpus / "output", ignore_errors=True)
    metrics = dict(batch.e2e_metrics(res, inputs), setup_s=setup_s)
    layer.update(res.get("layer", {}))
    layer.update(res["per_query"])
    return metrics


def run_stream(args, tracer: Tracer, layer: dict, outcome: Outcome,
               sampler: RssSampler, t_proc: float) -> dict:
    import stream

    ctx = multiprocessing.get_context("spawn")
    parent, child = ctx.Pipe()
    producer = ctx.Process(
        target=stream.producer_main,
        args=(child, args.seed,
              stream.TINY_RATE if args.tiny else stream.RATE_LINES_PER_S),
    )
    t_gen = time.time()
    producer.start()
    child.close()  # so recv() raises EOFError if the producer dies
    sampler.exclude.add(producer.pid)
    try:
        bootstrap = parent.recv()
        gen_s = time.time() - t_gen
        with tracer.span("setup"):
            reg, spark = setup_session(tracer, layer)
            status = SparkStatus(spark) if args.trace else None
            run = stream.KafkaRun(spark, parent, bootstrap, args.seed)
            run.wait_first_batch()
        setup_s = time.time() - t_proc - gen_s
        e2e, extra, progress = run.measure(
            args.seconds, outcome, args.expect_wrong
        )
        for p in progress:
            start = stream.iso_ts(p["timestamp"])
            tracer.add(
                f"streaming.batch:{p['batchId']}", start,
                start + p["durationMs"]["triggerExecution"] / 1e3,
            )
        if status is not None:
            # the stream's jobs carry its run id as their job group; the
            # counters are read after the run and reported per micro-batch
            counters = status.jobs(str(run.query.runId))
            add_into(counters, status.sql())
            layer.update({k: v / len(progress) for k, v in counters.items()})
            layer.update(stream.stream_layers(
                progress, extra["sources.kafka_wire.lag_lines"]
            ))
        layer["producer.generator_late_s"] = extra["generator_late_s"]
        print(f"# kafka_stream latency samples: {extra['latency_samples']}",
              file=sys.stderr)
        stop_spark(spark)
    finally:
        parent.close()  # so a producer still waiting for a command ends
        producer.join(timeout=30)
        if producer.is_alive():
            producer.terminate()
            producer.join(timeout=10)
    return dict(e2e, setup_s=setup_s)


def main(argv: list[str]) -> int:
    t_proc = process_start_time()
    t_main = time.time()
    args = parse_args(argv)
    spec = json.loads((BENCH_DIR.parent / "BENCHMARK.json").read_text())
    env = pin_environment()
    # fail here, before any process starts, when the program is missing
    if importlib.util.find_spec("hadoop_spark_pspd_spark") is None:
        raise SystemExit("perfbench: hadoop_spark_pspd_spark not found")
    print(f"# environment: {json.dumps(env)}", file=sys.stderr)
    mode = "traced" if args.trace else "plain"
    run_id = f"{args.workload}-{args.seed}-{mode}"
    tracer = Tracer(run_id, bool(args.trace))
    outcome = Outcome()
    layer: dict[str, float] = {}
    try:
        with RssSampler() as sampler:
            if args.workload in BATCH:
                e2e = run_batch(args, tracer, layer, outcome, t_proc,
                                t_main)
            else:
                e2e = run_stream(args, tracer, layer, outcome, sampler,
                                 t_proc)
    finally:
        end_children()
    # a layer metric: the JVM's resident size follows the collector's
    # heap sizing, which moves it by a quarter between identical runs
    layer["memory.peak_rss_mb"] = sampler.peak_bytes / (1 << 20)
    print("# peak RSS MB by pid: " + json.dumps(
        {pid: round(b / (1 << 20)) for pid, b in sampler.peak_parts.items()}
    ), file=sys.stderr)

    if args.trace:
        self_s = tracer.self_times()
        op_total = sum(
            s["end"] - s["start"] for s in tracer.spans
            if s["name"].startswith("op:")
        )
        for name, secs in self_s.items():
            layer[f"self_s.{name}"] = secs
        layer["trace.attributed_share"] = (
            1 - self_s.get("op", 0.0) / op_total if op_total else 1.0
        )
        tracer.dump(DATA_DIR / "traces" / f"{run_id}.json")
        wanted = spec["per_layer"]
    else:
        wanted = spec["end_to_end"]
    values = e2e if not args.trace else layer
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)),
                    "unit": m["unit"]}
        for m in wanted
    }
    summary = [
        f"{m['name']} {e2e[m['name']]:.4g} {m['unit']}"
        for m in spec["end_to_end"]
    ]
    rate = outcome.failed / max(outcome.attempted, 1)
    summary.append(
        f"error_rate {rate:.4g} ({outcome.failed}/{outcome.attempted})"
    )
    print(f"# {args.workload}: " + ", ".join(summary), file=sys.stderr)
    for failure in outcome.failures:
        print(f"# FAILED {failure}", file=sys.stderr)
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
