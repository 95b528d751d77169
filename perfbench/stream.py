"""kafka_stream: the reference's streaming pipeline under an open-loop
producer.

A separate producer process hosts the wire-protocol broker and sends
seeded Zipf-vocabulary lines to ``canalinput`` on a fixed schedule, each
stamped with its due time, plus a unique latency-marker word every
``MARKER_PERIOD_S``. A watcher thread in that process reads
``canaloutput`` and notes when each marker first appears. The engine
runs kafka_wire_source -> windowed_wordcount (watermarked) ->
to_kafka_json -> kafkawire on a processing-time trigger. After draining,
the final per-(window, word) counts must equal the producer's ledger.
"""

from __future__ import annotations

import json
import random
import shutil
import threading
import time
from collections import Counter
from datetime import datetime
from pathlib import Path
from statistics import median

from common import DATA_DIR, Outcome, percentile

WINDOW_S = 5
WATERMARK = "30 seconds"
TRIGGER = "500 milliseconds"
VOCAB_SIZE = 1000
WORDS_PER_LINE = 8
WARM_LINES = 500
TICK_S = 0.01
MARKER_PERIOD_S = 0.05
# A marker not in canaloutput this long after it was due counts as failed.
MARKER_DEADLINE_S = 30.0
# Open-loop rate: half of 12000 lines/s, the highest rate at which the
# backlog stayed within one micro-batch over a 20 s window on a 4-core
# x86 box (at 24000 lines/s it grew to ~5 s of input).
RATE_LINES_PER_S = 6000
TINY_RATE = 300


def _window_ms(ts_ms: int) -> int:
    return ts_ms - ts_ms % (WINDOW_S * 1000)


class _Watcher(threading.Thread):
    """Reads every record of canaloutput: the latest count per
    (window start ms, word) and when each marker word was first seen."""

    def __init__(self, bootstrap: str, topic: str):
        super().__init__(daemon=True)
        from hadoop_spark_pspd_spark.sources.kafka_wire import KafkaWireClient

        self.client = KafkaWireClient(bootstrap)
        self.topic = topic
        self.final: dict[tuple[int, str], int] = {}
        self.seen: dict[str, float] = {}
        self.last_record = time.time()
        self.stop = threading.Event()
        self._starts: dict[str, int] = {}

    def _start_ms(self, iso: str) -> int:
        ms = self._starts.get(iso)
        if ms is None:
            ms = round(iso_ts(iso) * 1000)
            self._starts[iso] = ms
        return ms

    def run(self) -> None:
        parts = self.client.metadata([self.topic])["topics"][self.topic]
        offsets = {p: 0 for p in parts}
        while not self.stop.is_set():
            got = 0
            for p in parts:
                _, msgs = self.client.fetch(self.topic, p, offsets[p])
                now = time.time()
                for off, _ts, _key, value in msgs:
                    rec = json.loads(value)
                    word = rec["word"]
                    key = (self._start_ms(rec["window"]["start"]), word)
                    self.final[key] = max(self.final.get(key, 0), rec["count"])
                    if word.startswith("MK") and word not in self.seen:
                        self.seen[word] = now
                    offsets[p] = off + 1
                got += len(msgs)
            if got:
                self.last_record = time.time()
            else:
                time.sleep(TICK_S)
        self.client.close()


def producer_main(conn, seed: int, rate: float) -> None:
    """Body of the producer process; driven by commands over ``conn``."""
    from hadoop_spark_pspd_spark.sources.kafka_wire import (
        KafkaWireBroker,
        KafkaWireClient,
    )
    from hadoop_spark_pspd_spark.streaming.wordcount_stream import (
        INPUT_TOPIC,
        OUTPUT_TOPIC,
    )

    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab: list[str] = []
    while len(vocab) < VOCAB_SIZE:
        # the word's length follows its rank, so bytes per line do not
        # depend on the seed
        n = 3 + len(vocab) % 7
        w = "".join(rng.choice(letters) for _ in range(n))
        if w not in vocab and not w.startswith("mk"):
            vocab.append(w)
    cum, acc = [], 0.0
    for k in range(1, VOCAB_SIZE + 1):
        acc += 1.0 / k**1.1
        cum.append(acc)

    broker = KafkaWireBroker(n_partitions=2)
    client = KafkaWireClient(broker.bootstrap)
    ledger: Counter = Counter()
    state = {"lines": 0, "bytes": 0, "part": 0}

    def send(lines: list[str], ts_ms: int) -> None:
        win = _window_ms(ts_ms)
        for line in lines:
            for w in line.split():
                ledger[(win, w.upper())] += 1
            state["bytes"] += len(line)
        client.produce(
            INPUT_TOPIC, state["part"] % 2,
            [(ts_ms, None, line.encode()) for line in lines],
        )
        state["part"] += 1
        state["lines"] += len(lines)

    def text_lines(n: int) -> list[str]:
        words = rng.choices(vocab, cum_weights=cum, k=n * WORDS_PER_LINE)
        return [
            " ".join(words[i:i + WORDS_PER_LINE])
            for i in range(0, len(words), WORDS_PER_LINE)
        ]

    # first the warm-up lines, so the engine's first micro-batch has input
    send(text_lines(WARM_LINES), int(time.time() * 1000))
    client.produce(OUTPUT_TOPIC, 0, [])  # create the topic the watcher reads
    watcher = _Watcher(broker.bootstrap, OUTPUT_TOPIC)
    watcher.start()
    conn.send(broker.bootstrap)

    markers: dict[str, float] = {}
    max_late = 0.0
    while True:
        try:
            cmd, arg = conn.recv()
        except EOFError:  # the engine side failed and closed its end
            watcher.stop.set()
            client.close()
            broker.shutdown()
            return
        if cmd == "run":
            t0 = time.time()
            sent = 0
            n_markers = 0
            while True:
                now = time.time()
                if now >= t0 + arg:
                    break
                due = int((now - t0) * rate)
                if due > sent:
                    lag = now - (t0 + (sent + 1) / rate)
                    max_late = max(max_late, lag)
                    send(text_lines(due - sent), int((t0 + due / rate) * 1000))
                    sent = due
                while t0 + n_markers * MARKER_PERIOD_S <= now:
                    due_t = t0 + n_markers * MARKER_PERIOD_S
                    word = f"mk{seed}x{n_markers}"
                    markers[word.upper()] = due_t
                    send([word], int(due_t * 1000))
                    n_markers += 1
                time.sleep(TICK_S)
            conn.send({
                "lines": state["lines"], "bytes": state["bytes"],
                "generator_late_s": max_late, "window": (t0, t0 + arg),
            })
        elif cmd == "finish":
            # wait until the watcher has read the drained output
            deadline = time.time() + arg
            while time.time() - watcher.last_record < 1.0:
                if time.time() > deadline:
                    break
                time.sleep(0.1)
            watcher.stop.set()
            watcher.join(timeout=5)
            conn.send({
                "ledger": dict(ledger), "final": watcher.final,
                "markers": markers, "seen": watcher.seen,
            })
            client.close()
            broker.shutdown()
            return


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _end_offsets(prog: dict) -> int:
    end = prog["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    return sum(int(v) for v in end.values())


def iso_ts(iso: str) -> float:
    return datetime.fromisoformat(iso).timestamp()


def start_query(spark, bootstrap: str, ckpt: Path):
    """The reference pipeline with a processing-time trigger.
    kafka_wire_sink pins availableNow, so its foreachBatch produce step is
    written out here."""
    from hadoop_spark_pspd_spark.streaming.wordcount_stream import (
        OUTPUT_TOPIC,
        kafka_wire_source,
        to_kafka_json,
        windowed_wordcount,
    )

    counts = windowed_wordcount(
        kafka_wire_source(spark, bootstrap),
        window_duration=f"{WINDOW_S} seconds",
        watermark_delay=WATERMARK,
    )

    def produce(batch_df, _epoch: int) -> None:
        (
            batch_df.write.format("kafkawire").mode("append")
            .option("bootstrap", bootstrap).option("topic", OUTPUT_TOPIC)
            .save()
        )

    shutil.rmtree(ckpt, ignore_errors=True)
    return (
        to_kafka_json(counts).writeStream.foreachBatch(produce)
        .option("checkpointLocation", str(ckpt))
        .outputMode("update")
        .trigger(processingTime=TRIGGER)
        .start()
    )


def wait_for(cond, timeout: float, what: str) -> None:
    deadline = time.time() + timeout
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.05)


class KafkaRun:
    """One kafka_stream run: start the query, wait for its first batch
    (the end of set-up), load it for ``seconds``, drain, and check."""

    def __init__(self, spark, conn, bootstrap: str, seed: int):
        self.conn = conn
        self.ckpt = DATA_DIR / f"stream-ckpt-{seed}"
        self.query = start_query(spark, bootstrap, self.ckpt)

    def wait_first_batch(self) -> None:
        wait_for(
            lambda: any(p["numInputRows"] > 0 for p in _progress(self.query)),
            120, "the first micro-batch",
        )

    def measure(self, seconds: float, outcome: Outcome,
                wrong: bool) -> tuple[dict, dict, list[dict]]:
        q = self.query
        self.conn.send(("run", seconds))
        ran = self.conn.recv()
        w0, w1 = ran["window"]
        at_end = _progress(q)
        lag = ran["lines"] - (_end_offsets(at_end[-1]) if at_end else 0)
        wait_for(
            lambda: _end_offsets(_progress(q)[-1]) >= ran["lines"],
            60, "the stream to drain",
        )
        q.processAllAvailable()
        self.conn.send(("finish", 30.0))
        res = self.conn.recv()
        progress = _progress(q)
        q.stop()
        shutil.rmtree(self.ckpt, ignore_errors=True)

        if wrong:  # deliberately wrong expectation: proves the check is live
            key = next(iter(res["ledger"]))
            res["ledger"][key] += 1
        by_window: dict[int, list[str]] = {}
        keys = set(res["ledger"]) | set(res["final"])
        for win, word in sorted(keys):
            want = res["ledger"].get((win, word), 0)
            got = res["final"].get((win, word), 0)
            bad = by_window.setdefault(win, [])
            if want != got:
                bad.append(f"{word} {got} != {want}")
        for win, bad in by_window.items():
            outcome.check(f"window@{win}", bad)
        lat = []
        for word, due in sorted(res["markers"].items()):
            seen = res["seen"].get(word)
            problems = []
            if seen is None:
                problems.append("never appeared in canaloutput")
            elif seen - due > MARKER_DEADLINE_S:
                problems.append(f"appeared after {seen - due:.1f} s")
            outcome.check(f"marker {word}", problems)
            if w0 <= due <= w1:
                # a marker that never appeared misses any latency limit
                lat.append(MARKER_DEADLINE_S if seen is None else seen - due)

        ran_batches = [p for p in progress if p["numInputRows"] > 0]
        in_win = [
            p for p in ran_batches if w0 <= iso_ts(p["timestamp"]) <= w1
        ]
        if len(in_win) < 2:  # a window shorter than two micro-batches
            in_win = ran_batches
        # batch k reads what arrived between the starts of batches k-1
        # and k, so rows after the first over the spanned starts is the
        # consumed rate
        rows = sum(p["numInputRows"] for p in in_win[1:])
        starts = [iso_ts(p["timestamp"]) for p in in_win]
        lines_per_s = rows / (starts[-1] - starts[0])
        e2e = {
            "wall_s": median(
                [p["durationMs"]["triggerExecution"] / 1e3 for p in in_win]
            ),
            "lines_per_s": lines_per_s,
            "mb_per_s": lines_per_s * ran["bytes"] / ran["lines"] / 1e6,
            "latency_p50_s": percentile(lat, 50),
            "latency_p95_s": percentile(lat, 95),
        }
        extra = {
            "latency_samples": len(lat),
            "generator_late_s": ran["generator_late_s"],
            "sources.kafka_wire.lag_lines": lag,
        }
        return e2e, extra, progress


def stream_layers(progress: list[dict], lag: float) -> dict[str, float]:
    """Per-layer streaming counters from StreamingQuery.recentProgress."""
    def dur(p, k):
        return p["durationMs"].get(k, 0)

    ran = [p for p in progress if p["numInputRows"] > 0]
    states = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    return {
        "streaming.batch_ms": median(
            [dur(p, "triggerExecution") for p in ran]
        ),
        "streaming.plan_ms": median([dur(p, "queryPlanning") for p in ran]),
        "streaming.add_batch_ms": median([dur(p, "addBatch") for p in ran]),
        "streaming.empty_batch_share": 1 - len(ran) / len(progress),
        "streaming.state_rows": states[-1]["numRowsTotal"] if states else 0,
        "streaming.state_memory_bytes": max(
            (s["memoryUsedBytes"] for s in states), default=0
        ),
        "streaming.state_commit_ms": median(
            [s["commitTimeMs"] for s in states] or [0]
        ),
        "streaming.late_rows_dropped": sum(
            s.get("numRowsDroppedByWatermark", 0) for s in states
        ),
        "sources.kafka_wire.lag_lines": lag,
    }
