"""The two workloads: ``build`` (rollup_job.main) and ``refresh``
(refresh_job.main), each timed through the package's public entry points
and checked against the DuckDB recomputation in ``check.py``."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import check
import gen

CORPUS_ROWS = 150_000
DELTA_ROWS = CORPUS_ROWS // 100
MAX_UNITS = 8  # deltas are generated up front; a run uses as many as its time allows


@dataclass
class Op:
    wall: float
    rows: int  # rows this unit absorbed
    out: str
    result: dict
    spans: tuple[int, int] = (0, 0)  # tracer span slice of this unit
    store: dict = field(default_factory=dict)


@dataclass
class Run:
    setup_s: float
    ops: list[Op]
    attempted: int
    failed: int
    problems: list[str]
    store_bytes_per_point: float
    decode_rows_per_s: float = 0.0


class Bench:
    """Shared state of one benchmark process: work dir, session, tracer."""

    def __init__(self, work: str, seed: int, seconds: float, t_start: float,
                 threads: int, traced: bool):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.t_start, self.threads, self.traced = t_start, threads, traced
        self.spark = None
        self.tracer = None

    def log(self, what: str) -> None:
        print(f"[jobbench {time.perf_counter() - self.t_start:7.2f}s] {what}",
              file=sys.stderr, flush=True)

    def with_session(self, make_inputs):
        """Start the Spark session while ``make_inputs`` runs in a thread
        (the JVM launch mostly waits); returns what ``make_inputs`` returns."""
        with ThreadPoolExecutor(max_workers=1) as pool:
            inputs = pool.submit(make_inputs)
            self.session()
            out = inputs.result()
        self.log("session up, inputs written")
        return out

    def session(self):
        from preprocessor_spark import get_spark

        self.spark = get_spark("jobbench", batch_committer_v2=True)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.traced:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()
        return self.spark

    def stop(self) -> None:
        """Stop the session and wait for its JVM (and with it the Python
        workers) to exit; the JVM exits when its stdin closes."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    def timed(self, fn, rows: int, out: str) -> Op:
        """One unit of work. The job description is cleared first so that a
        previous job's description is never credited with this one's work."""
        self.spark.sparkContext.setJobDescription(None)
        n0 = len(self.tracer.spans) if self.tracer else 0
        t = time.perf_counter()
        result = fn()
        op = Op(time.perf_counter() - t, rows, out, result)
        self.log(f"unit done in {op.wall:.2f}s ({rows} rows)")
        op.spans = (n0, len(self.tracer.spans) if self.tracer else 0)
        return op

    def loop(self, make_op) -> tuple[list[Op], int, int]:
        """Units back to back until ``seconds`` have passed (at most
        MAX_UNITS)."""
        ops, attempted, failed = [], 0, 0
        t0 = time.perf_counter()
        while attempted < MAX_UNITS:
            attempted += 1
            try:
                ops.append(make_op(attempted - 1))
            except Exception:  # a failed unit is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                failed += 1
            if time.perf_counter() - t0 >= self.seconds:
                break
        return ops, attempted, failed

    def decode_blocks(self, out: str):
        """decode_tier_blocks over the store's 5m blocks, collected; returns
        the decoded rows in checker form and the rows/s of the decode."""
        from preprocessor_spark.rollup.compression import decode_tier_blocks

        blocks = self.spark.read.parquet(os.path.join(out, "blocks_5m"))
        t = time.perf_counter()
        pdf = decode_tier_blocks(blocks, ["source"]).toPandas()
        dt = time.perf_counter() - t
        return check.decoded_frame(pdf), len(pdf) / dt

    def store_metrics(self, con, out: str, rows: int) -> dict:
        tiers = {n: check.read_tier(con, out, n) for n in check.TIERS}
        nonempty = int((tiers["5m"]["n"] > 0).sum())
        m = {
            "files_written": check.count_files(out),
            "store_bytes": check.dir_bytes(out),
            "prepared_bytes_per_point": check.dir_bytes(os.path.join(out, "prepared")) / rows,
            "blocks_bytes_per_bucket": check.dir_bytes(os.path.join(out, "blocks_5m")) / nonempty,
            "nonempty_5m": nonempty,
        }
        for n, df in tiers.items():
            m[f"tier_bytes_per_bucket.{n}"] = (
                check.dir_bytes(os.path.join(out, f"tier_{n}")) / len(df))
        return m


def build(b: Bench) -> Run:
    from preprocessor_spark.plans import rollup_job

    corpus = os.path.join(b.work, "corpus")
    rows = b.with_session(lambda: gen.write_corpus(corpus, CORPUS_ROWS, b.seed))["corpus"]

    def run_build(out: str) -> dict:
        return rollup_job.main(["--input", corpus, "--output", out])

    # warm-up: one untimed build at full size (JIT, codegen, python workers)
    warm = os.path.join(b.work, "warm")
    b.timed(lambda: run_build(warm), rows, warm)
    shutil.rmtree(warm)
    setup_s = time.perf_counter() - b.t_start

    def op(i: int) -> Op:
        out = os.path.join(b.work, f"build{i}")
        return b.timed(lambda: run_build(out), rows, out)

    ops, attempted, failed = b.loop(op)
    b.log("checking")
    con = check.connect(b.threads)
    problems: list[str] = []
    exp = check.Expected(con, [corpus], os.path.join(ops[0].out, "split_params.json")) \
        if ops else None
    for o in ops:
        problems += check.check_store(con, o.out, exp)
        o.store = b.store_metrics(con, o.out, rows)
    run = Run(setup_s, ops, attempted, failed, problems, statistics.median(
        o.store["store_bytes"] / rows for o in ops) if ops else 0.0)
    if ops:
        decoded, run.decode_rows_per_s = b.decode_blocks(ops[-1].out)
        problems += check.check_blocks(decoded, check.read_tier(con, ops[-1].out, "5m"))
    return run


def refresh(b: Bench) -> Run:
    from preprocessor_spark.plans import refresh_job, rollup_job

    corpus = os.path.join(b.work, "corpus")
    deltas = [os.path.join(b.work, f"delta{k}") for k in range(MAX_UNITS + 1)]
    counts = b.with_session(lambda: gen.write_corpus(
        corpus, CORPUS_ROWS, b.seed, deltas=deltas, delta_rows=DELTA_ROWS))
    out = os.path.join(b.work, "store")
    rollup_job.main(["--input", corpus, "--output", out])
    b.log("base store built")
    # the first refresh bootstraps the unbias carry tail from the corpus: untimed
    refresh_job.main(["--output", out, "--delta-input", deltas[0], "--input", corpus])
    setup_s = time.perf_counter() - b.t_start
    absorbed = [corpus, deltas[0]]

    def op(i: int) -> Op:
        d = deltas[i + 1]
        o = b.timed(lambda: refresh_job.main(["--output", out, "--delta-input", d]),
                    counts["deltas"][i + 1], out)
        absorbed.append(d)
        if b.tracer is not None:
            con = check.connect(b.threads)
            rows = sum(counts["deltas"][: i + 2]) + counts["corpus"]
            o.store = b.store_metrics(con, out, rows)
            o.store["touched_buckets"] = sum(
                check.touched_buckets(con, d, step) for step in check.TIERS.values())
            o.store["touched_blocks"] = check.touched_buckets(con, d, 4096 * 300)
            o.store["blocks_reencoded"] = con.execute(
                f"SELECT count(*) FROM read_parquet('{out}/blocks_5m/*/*.parquet', "
                "hive_partitioning = true) WHERE source IN (SELECT DISTINCT source "
                f"FROM read_parquet('{d}/*.parquet'))").fetchone()[0]
            con.close()
        return o

    ops, attempted, failed = b.loop(op)
    b.log("checking")
    con = check.connect(b.threads)
    exp = check.Expected(con, absorbed, os.path.join(out, "split_params.json"))
    problems = check.check_store(con, out, exp)
    # one store absorbs every delta: its bytes after the last over rows in it
    run = Run(setup_s, ops, attempted, failed, problems,
              check.dir_bytes(out) / exp.rows)
    decoded, run.decode_rows_per_s = b.decode_blocks(out)
    problems += check.check_blocks(decoded, check.read_tier(con, out, "5m"))
    return run


WORKLOADS = {"build": build, "refresh": refresh}


def end_to_end(run: Run) -> dict[str, float]:
    return {
        "setup_s": run.setup_s,
        "job_s": statistics.median(o.wall for o in run.ops),
        "points_per_s": statistics.median(o.rows / o.wall for o in run.ops),
        "store_bytes_per_point": run.store_bytes_per_point,
    }
