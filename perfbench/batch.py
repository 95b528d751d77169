"""The batch workload: a closed loop of one client that builds an
operation's DataFrame, runs its action, and checks the result outside the
clock.

batch_mix runs the reference's job (text dir -> word count -> TSV) on a
seeded corpus of the reference's line shape, checked against the
generator's ledger, and star-schema and LLM-data registry queries on
seeded tables, each checked against the query's DuckDB oracle.
"""

from __future__ import annotations

import json
import random
import shutil
import sys
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

from common import REPO_ROOT, Outcome, percentile
from spans import SparkStatus, Tracer, add_into

WC_FILES = 4
WC_LINES_PER_FILE = 75_000  # 300k lines, 33 MB of text
WC_TINY_LINES_PER_FILE = 2_000

# registry queries: joins and aggregates over parquet scans (q5), the
# hashing, vector and graph kernels, Arrow batches into Python workers
# (pagerank) and the driver-side jobs some builders launch
QUERIES = (
    "q5_local_supplier_volume", "dedup_minhash_lsh", "sim_topk_bruteforce",
    "graph_pagerank",
)
QUERY_SCALE = 1.0  # 60,000 lineitem rows, 500 documents and vectors
QUERY_TINY_SCALE = 0.1
# unchecked passes over the operations before the clock starts: the
# first compiles their code, the second lets the JIT finish with it
WARM_PASSES = 2


@dataclass
class Op:
    """One named operation: build a DataFrame, run its action, check it."""

    name: str
    module: str
    build: Callable[[], Any]
    execute: Callable[[Any], Any]
    check: Callable[[Any], list[str]]


@dataclass
class Inputs:
    """The operations of a pass, and the bytes and lines (text lines and
    table rows) they read, for the throughput metrics."""

    ops: list[Op]
    input_bytes: int
    input_lines: int


# ---------------------------------------------------------------------------
# the reference WordCount job
# ---------------------------------------------------------------------------


def make_corpus(seed: int, root: Path, lines_per_file: int) -> dict:
    """Write the seeded corpus once per seed; return its ledger.

    Each line has the reference's shape, the fixed vocabulary then
    ``idxNN`` and ``linhaN``, with ``linhaN`` unique per line: numbered
    from a seeded base, with six digits so that every seed writes the same
    bytes, and written in a seeded order within each file."""
    from hadoop_spark_pspd_spark.sources.generators import FIXED_VOCAB

    ledger_path = root / "ledger.json"
    if ledger_path.exists():
        return json.loads(ledger_path.read_text())
    shutil.rmtree(root, ignore_errors=True)
    (root / "input").mkdir(parents=True)
    rng = random.Random(seed)
    base = rng.randrange(100_000, 1_000_000 - WC_FILES * lines_per_file)
    n_bytes = 0
    for f in range(WC_FILES):
        numbers = list(range(base + f * lines_per_file,
                             base + (f + 1) * lines_per_file))
        rng.shuffle(numbers)
        text = "".join(f"{FIXED_VOCAB} idx{f:02d} linha{n}\n"
                       for n in numbers)
        (root / "input" / f"part-{f:05d}.txt").write_text(text)
        n_bytes += len(text.encode())
    vocab = FIXED_VOCAB.split()
    total = WC_FILES * lines_per_file
    counts = {w: total for w in vocab}
    counts.update({f"idx{f:02d}": lines_per_file for f in range(WC_FILES)})
    ledger = {
        "lines": total,
        "bytes": n_bytes,
        "tokens": total * (len(vocab) + 2),
        "distinct_words": len(vocab) + WC_FILES + total,
        "counts": counts,
    }
    ledger_path.write_text(json.dumps(ledger))
    return ledger


def check_wordcount(out_dir: Path, ledger: dict) -> list[str]:
    """Every output word and count against the generator's ledger, and
    each part file sorted by word."""
    problems = []
    counts: dict[str, int] = {}
    linha = 0
    tokens = 0
    for part in sorted(out_dir.glob("part-*")):
        prev = None
        for line in part.read_text().splitlines():
            word, cnt = line.split("\t")
            cnt = int(cnt)
            tokens += cnt
            if prev is not None and word < prev and not problems:
                problems.append(f"{part.name} not sorted at {word!r}")
            prev = word
            if word.startswith("linha"):
                linha += 1
                if cnt != 1:
                    problems.append(f"{word} count {cnt} != 1")
            elif word in counts:
                problems.append(f"{word} emitted twice")
            else:
                counts[word] = cnt
    distinct = linha + len(counts)
    if distinct != ledger["distinct_words"]:
        problems.append(f"distinct {distinct} != {ledger['distinct_words']}")
    if tokens != ledger["tokens"]:
        problems.append(f"tokens {tokens} != {ledger['tokens']}")
    if counts != ledger["counts"]:
        bad = sorted(set(counts.items()) ^ set(ledger["counts"].items()))
        problems.append(f"sample counts differ: {bad[:4]}")
    return problems


def wordcount_op(spark, root: Path, ledger: dict, wrong: bool) -> Op:
    from hadoop_spark_pspd_spark.operators.wordcount import wordcount_text_dir
    from hadoop_spark_pspd_spark.sources.writers import write_tsv

    # a deliberately wrong expectation proves the check is live
    expected = dict(ledger, tokens=ledger["tokens"] + int(wrong))
    out = root / "output"

    def execute(df):
        write_tsv(df, str(out), sort_cols=["word"])
        return out

    return Op(
        name="wordcount_text_dir",
        module="wordcount",
        build=lambda: wordcount_text_dir(spark, str(root / "input")),
        execute=execute,
        check=lambda o: check_wordcount(o, expected),
    )


# ---------------------------------------------------------------------------
# registry queries
# ---------------------------------------------------------------------------


def query_ops(spark, data: Path, names: tuple[str, ...], reg: dict,
              wrong: bool) -> list[Op]:
    import duckdb

    sys.path.insert(0, str(REPO_ROOT / "tools"))
    from verify_local import compare

    con = duckdb.connect()
    for path in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
    oracle: dict[str, tuple[list, list]] = {}

    def op(name: str) -> Op:
        q = reg[name]

        def check(res) -> list[str]:
            if name not in oracle:
                rel = con.sql(q.oracle)
                rows = rel.fetchall()
                if wrong:  # deliberately wrong expectation
                    rows.append(tuple(None for _ in rel.columns))
                oracle[name] = (rows, rel.columns)
            cols, rows = res
            return compare(rows, cols, *oracle[name])

        def execute(df):
            return df.columns, [tuple(r) for r in df.collect()]

        return Op(
            name=name, module=q.fn.__module__.rsplit(".", 1)[-1],
            build=lambda: q.fn(spark, str(data)),
            execute=execute, check=check,
        )

    return [op(n) for n in names]


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------


def describe(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"[:300]


def run_one(spark, op: Op, tracer: Tracer, group: str) -> tuple[dict, Any]:
    sc = spark.sparkContext
    with tracer.span(f"op:{op.name}"):
        t0 = time.perf_counter()
        sc.setJobGroup(f"{group}:build", op.name)
        with tracer.span(f"operators.build:{op.name}"):
            df = op.build()
        t1 = time.perf_counter()
        sc.setJobGroup(f"{group}:exec", op.name)
        with tracer.span(f"operators.exec:{op.name}"):
            result = op.execute(df)
        t2 = time.perf_counter()
    return {"build_s": t1 - t0, "exec_s": t2 - t1, "wall_s": t2 - t0}, result


def run_loop(spark, inputs: Inputs, seconds: float, seed: int,
             tracer: Tracer, traced: bool, outcome: Outcome) -> dict:
    """Run passes over the ops in a seeded order until the timed sections
    add up to ``seconds`` (at least one pass); a failed operation's time
    counts too, so failures cannot stall the loop. Each operation's
    fastest pass is its time: the least disturbed by other tenants of a
    shared machine. With tracing, every other pass is traced so the
    untraced ones give the tracing overhead."""
    status = SparkStatus(spark) if traced else None
    rng = random.Random(seed)
    walls: dict[str, list[float]] = defaultdict(list)
    plain: dict[str, list[float]] = defaultdict(list)
    builds: dict[str, list[float]] = defaultdict(list)
    execs: dict[str, list[float]] = defaultdict(list)
    counters: dict[str, float] = {}
    timed = 0.0
    n = n_traced = passes = 0
    while timed < seconds or n == 0:
        order = inputs.ops[:]
        rng.shuffle(order)
        tracer.enabled = traced and passes % 2 == 0
        passes += 1
        for op in order:
            n += 1
            t0 = time.perf_counter()
            try:
                rec, result = run_one(spark, op, tracer, f"perfbench-{n}")
                problems = op.check(result)
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                outcome.check(op.name, [describe(e)])
                timed += time.perf_counter() - t0
                continue
            timed += rec["wall_s"]
            outcome.check(op.name, problems)
            if tracer.enabled:
                n_traced += 1
                walls[op.name].append(rec["wall_s"])
                builds[op.name].append(rec["build_s"])
                execs[op.name].append(rec["exec_s"])
                part = status.jobs(f"perfbench-{n}:build")
                gate = part.get("spark.jobs", 0.0)
                add_into(part, status.jobs(f"perfbench-{n}:exec"))
                add_into(part, status.sql())
                part["spark.gate_jobs"] = gate
                part["traced_wall_s"] = rec["wall_s"]
                add_into(counters, part)
            else:
                (plain if traced else walls)[op.name].append(rec["wall_s"])
                if status is not None:
                    status.sql()
    tracer.enabled = traced
    per_q = {name: min(ws) for name, ws in walls.items()}
    out = {
        "wall_s": sum(per_q.values()),
        "per_op": per_q,
        "per_query": {
            f"operators.{op.module}.{op.name}.wall_s": per_q[op.name]
            for op in inputs.ops if op.name in per_q
        },
    }
    if traced:
        traced_passes = n_traced / len(inputs.ops)
        layer = {k: v / traced_passes for k, v in counters.items()}
        layer["operators.build_s"] = sum(min(v) for v in builds.values())
        layer["operators.exec_s"] = sum(min(v) for v in execs.values())
        cores = spark.sparkContext.defaultParallelism
        busy = layer.pop("traced_wall_s", 0.0)
        layer["spark.core_idle_share"] = (
            1 - layer.get("spark.executor_run_s", 0.0) / (busy * cores)
            if busy else 0.0
        )
        jobs = layer.get("spark.jobs", 0.0)
        layer["spark.gate_job_share"] = (
            layer.get("spark.gate_jobs", 0.0) / jobs if jobs else 0.0
        )
        both = [q for q in plain if q in walls]
        untraced = sum(min(plain[q]) for q in both)
        layer["trace.overhead_share"] = (
            sum(min(walls[q]) for q in both) / untraced - 1
            if untraced else 0.0
        )
        out["layer"] = layer
    return out


def e2e_metrics(res: dict, inputs: Inputs) -> dict[str, float]:
    """A pass's wall time, the input it reads per second, and percentiles
    over the operations of their fastest wall times."""
    per_op = list(res["per_op"].values())
    if not per_op:  # every operation failed; the run reports 0s
        return dict.fromkeys(
            ("wall_s", "mb_per_s", "lines_per_s", "latency_p50_s",
             "latency_p95_s"), 0.0)
    wall = res["wall_s"]
    return {
        "wall_s": wall,
        "mb_per_s": inputs.input_bytes / 1e6 / wall,
        "lines_per_s": inputs.input_lines / wall,
        "latency_p50_s": percentile(per_op, 50),
        "latency_p95_s": percentile(per_op, 95),
    }
