"""What both workloads share: the run's context (session, scratch
directory, operation and check counters) and the timed closed loop.

One streaming query runs from set-up to the end of the timed phase.
A round appends one input file to the query's source directory, waits
until the query has committed it (``maxFilesPerTrigger=1``, so one
micro-batch per round), then makes the round's keyed lookups.  The next
round starts when the previous one has finished, until the rounds have
taken ``--seconds``; inputs for the next round are made between rounds
and left out of every figure.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import probe

QUERY_TIMEOUT_S = 120


class Context:
    """One run's session, scratch directory and counters."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.seed = seed
        self.seconds = seconds
        self.work = os.path.join(root, ".bench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.event_log = os.path.join(self.work, "eventlog")
        #: operation type -> [attempted, failed]
        self.ops: dict[str, list[int]] = {}
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.tracer = probe.Tracer() if trace else None
        self.spark = None
        self.t0 = time.perf_counter()
        #: phase -> seconds since the run started (for the run record)
        self.phases: dict[str, float] = {}

    def ready(self, gen_s: float) -> float:
        """``setup_s``: seconds from process start to now, less
        ``gen_s`` spent making set-up inputs."""
        self.mark("setup done")
        return probe.process_age_s() - gen_s

    def mark(self, phase: str) -> None:
        self.phases[phase] = round(time.perf_counter() - self.t0, 3)
        print(f"[e2ebench] {phase} at {self.phases[phase]:.1f}s", file=sys.stderr, flush=True)

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, kind: str, failed: bool = False) -> None:
        a = self.ops.setdefault(kind, [0, 0])
        a[0] += 1
        a[1] += int(failed)

    def check(self, name: str, errs: list[str]) -> None:
        self.op("checks")
        self.failures += [f"{name}: {e}" for e in errs]

    def start_session(self) -> float:
        """Start Spark through the engine's own session factory; returns
        the seconds it took (``session.start_s``)."""
        t0 = time.perf_counter()
        from consume_kafka_avro_data_spark.session import get_session

        conf = {
            "spark.sql.warehouse.dir": self.dir("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dir('tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer:
            os.makedirs(self.event_log)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_log,
                    "spark.eventLog.compress": "false",
                }
            )
        # the engine's default driver heap, as its entry point uses it
        self.spark = get_session(app_name="e2ebench", cpus=os.cpu_count() or 4, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t0
        return self.layer["session.start_s"]

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit; the event log is complete after this."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None and gateway.proc is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)


class Stream:
    """One long-running foreachBatch query over a source directory,
    driven a file at a time: the query starts once, in set-up, and keeps
    running across rounds, so a round pays for one trigger and not for
    a query start and stop."""

    def __init__(self, ingest, stream):
        self.query = ingest.start(stream, available_now=False, processing_time="0 seconds")
        self.last_batch = -1
        #: epoch seconds at which ``wait`` last saw its batch committed
        self.done_at = 0.0

    def wait(self) -> list[float]:
        """Block until every file written so far is committed; returns
        the duration of each micro-batch committed since the last call,
        as the streaming engine reports it."""
        deadline = time.monotonic() + QUERY_TIMEOUT_S
        while True:
            # returns once a trigger finds no new data, which can be a
            # trigger that listed the source just before the last file
            # landed: then no batch is new yet, and it waits again
            self.query.processAllAvailable()
            new = [
                p
                for p in self.query.recentProgress
                if p.batchId > self.last_batch and p.numInputRows > 0
            ]
            if new:
                self.last_batch = max(p.batchId for p in new)
                self.done_at = time.time()
                return [p.batchDuration / 1000 for p in new]
            if time.monotonic() > deadline:
                raise TimeoutError("no micro-batch committed the new input")

    def stop(self) -> None:
        self.query.stop()


@dataclass
class Rounds:
    inputs: list = field(default_factory=list)
    #: (key, expected present, what the lookup returned)
    lookups: list[tuple] = field(default_factory=list)
    lookup_s: list[float] = field(default_factory=list)
    batch_s: list[float] = field(default_factory=list)
    #: per round: file landed -> its micro-batch committed, and the
    #: records that batch committed
    round_s: list[float] = field(default_factory=list)
    round_records: list[int] = field(default_factory=list)
    #: per round: CPU seconds of the JVM, the driver and the Python
    #: workers, from the file landing to the round's last lookup's end
    round_cpu_s: list[float] = field(default_factory=list)
    #: per round, epoch seconds: its file landed, its batch seen committed
    landed_at: list[float] = field(default_factory=list)
    done_at: list[float] = field(default_factory=list)
    proc: dict[str, float] = field(default_factory=dict)
    peak_rss_mb: float = 0.0

    def e2e(self, setup_s: float) -> dict[str, float]:
        return {
            "setup_s": setup_s,
            "records_per_s": probe.median(
                [n / s for n, s in zip(self.round_records, self.round_s)]
            ),
            "batch_p50_s": probe.median(self.batch_s),
            "lookup_p50_s": probe.median(self.lookup_s),
            "cpu_s_per_batch": probe.median(self.round_cpu_s),
            "round_cpu_list_s": self.round_cpu_s,
            "peak_rss_mb": self.peak_rss_mb,
            "batches": len(self.batch_s),
            "batch_list_s": self.batch_s,
            "round_list_s": self.round_s,
            **self.proc,
        }


def closed_loop(
    ctx: Context, pipe, make_input, lookups_for, batch_span: str, min_rounds: int
) -> Rounds:
    """Rounds of ``pipe.write`` + ``pipe.stream.wait`` + ``pipe.lookup``
    until the rounds have taken ``ctx.seconds`` and at least
    ``min_rounds`` have run; the round in flight is always finished.
    ``make_input(i, previous)`` makes round i's input (its time and CPU
    are left out of every figure);
    ``lookups_for(i, input)`` gives the round's (key, present) pairs;
    ``pipe.records()`` counts the records committed so far."""
    spark = ctx.spark
    out = Rounds()
    if ctx.tracer:
        # set-up's spans go; the last warm-up batch's end is kept for
        # the first timed round's trigger gap
        warm_end = ctx.tracer.named(batch_span)[-1].end
        ctx.tracer.spans.clear()
    warm_done = pipe.stream.done_at
    nxt = make_input(0, None)
    gen_cpu = 0.0
    probe.jvm_heap_reset(spark)
    gc0, jit0 = probe.jvm_gc_seconds(spark), probe.jvm_jit_seconds(spark)
    p0 = probe.ProcSnapshot.take()
    busy = 0.0
    while busy < ctx.seconds or len(out.inputs) < min_rounds:
        i, cur = len(out.inputs), nxt
        records0 = pipe.records()
        pipe.write(i, cur)
        out.inputs.append(cur)
        out.landed_at.append(time.time())
        c0 = probe.ProcSnapshot.take()
        t0 = time.perf_counter()
        try:
            durs = pipe.stream.wait()
        except Exception as ex:  # noqa: BLE001 - counted; the run stops here
            ctx.op("micro_batches", failed=True)
            ctx.failures.append(f"round {i}: {ex}")
            break
        out.round_s.append(time.perf_counter() - t0)
        out.done_at.append(pipe.stream.done_at)
        out.round_records.append(pipe.records() - records0)
        out.batch_s += durs
        for _ in durs:
            ctx.op("micro_batches")
        busy += out.round_s[-1]
        for key, present in lookups_for(i, cur):
            t0 = time.perf_counter()
            got = pipe.lookup(key)
            out.lookup_s.append(time.perf_counter() - t0)
            busy += out.lookup_s[-1]
            out.lookups.append((key, present, got))
            ctx.op("lookups")
        out.round_cpu_s.append(probe.ProcSnapshot.take().cpu_minus(c0))
        g0 = time.process_time()
        nxt = make_input(i + 1, cur)
        gen_cpu += time.process_time() - g0
    ctx.mark("timed phase done")
    p1 = probe.ProcSnapshot.take()
    gc1, jit1 = probe.jvm_gc_seconds(spark), probe.jvm_jit_seconds(spark)
    out.proc = p1.minus(p0)
    out.proc["driver_cpu_s"] -= gen_cpu
    out.peak_rss_mb = probe.peak_rss_mb()
    pipe.stream.stop()
    ctx.layer.update(
        {
            "jvm.cpu_s": out.proc["jvm_cpu_s"],
            "jvm.jit_s": jit1 - jit0,
            "pyworker.cpu_s": out.proc["pyworker_cpu_s"],
            "jvm.gc_s": gc1 - gc0,
            "jvm.heap_peak_mb": probe.jvm_heap_peak_mb(spark),
        }
    )
    if ctx.tracer:
        ctx.tracer.unwrap()
        # the streaming engine's own time between two batch bodies:
        # from one process_batch return to the next call, less the
        # driver's lookups, input making and file write in between
        spans = ctx.tracer.named(batch_span)
        ends = [warm_end] + [s.end for s in spans]
        dones = [warm_done] + out.done_at
        ctx.layer["lifecycle.trigger_gap_s"] = probe.median(
            [
                (s.start - end) - (landed - done)
                for s, end, done, landed in zip(spans, ends, dones, out.landed_at)
            ]
        )
    return out
