"""The four benchmark workloads.

Each workload generates its inputs from the seed (``generate``), computes
its reference answers without Spark (``reference``), warms the session
(``warm_up``) and then measures (``measure``). Inputs reach the program
only as parquet files.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd

import gen
import reference
from harness import Measured, Op, Tracer, closed_loop
from layers import LAYERS

SKY_ALGOS = ("MR_DIM", "MR_GRID", "MR_ANGLE")
STREAM_METRICS = frozenset(LAYERS["stream"]["metrics"])
CORPUS_METRICS = frozenset(LAYERS["corpus"]["metrics"])


def write_parts(pdf: pd.DataFrame, path: Path, parts: int = 4) -> None:
    """``pdf`` as ``parts`` parquet files under ``path`` (one scan task
    per file)."""
    path.mkdir(parents=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
        pdf.iloc[chunk].to_parquet(path / f"part-{i}.parquet", index=False)


def digest(chunks) -> str:
    """Short hash of the generated inputs (the self-test compares seeds)."""
    h = hashlib.sha256()
    for c in chunks:
        h.update(c.tobytes() if isinstance(c, np.ndarray) else str(c).encode())
    return h.hexdigest()[:16]


def kernel_rate(pts: np.ndarray, senses: list[str], rows: int = 20_000) -> tuple[int, float]:
    """(rows, seconds) of one direct ``find_skyline_mask`` call on the
    first ``rows`` points."""
    from pyspark_skyline_spark import find_skyline_mask

    a = pts[:rows]
    t0 = time.perf_counter()
    find_skyline_mask([a[:, j] for j in range(a.shape[1])], senses)
    return len(a), time.perf_counter() - t0


class Workload:
    loop = "closed loop, 1 client, operations back to back in whole cycles"
    #: per-layer metrics this workload does not exercise: they read 0, and
    #: a traced run fails if any other metric has no value
    unmeasured: frozenset = frozenset()

    def __init__(self, seed: int, scale: str, seconds: float, data: Path) -> None:
        self.seed, self.tiny, self.seconds, self.data = seed, scale == "tiny", seconds, data

    def rng(self, salt: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, salt])

    def fresh(self) -> None:
        if self.data.exists():
            shutil.rmtree(self.data)
        self.data.mkdir(parents=True)

    def measure(self, spark, seconds, trace, tracer, session, plant_wrong) -> Measured:
        recs = closed_loop(lambda k: self.cycle(spark, k), seconds, trace, tracer, session,
                           plant_wrong)
        cpu: dict[str, list[float]] = {}
        for r in recs:
            cpu.setdefault(r.name, []).append(r.cpu_s)
        rows = sum(r.rows_in for r in recs)
        return Measured(recs, [r.wall_s for r in recs], rows, cpu=cpu,
                        rows_per_cpu_s=rows / max(0.01, sum(r.cpu_s for r in recs)))

    def layer_probe(self, spark, result: Measured) -> dict:
        """Per-layer numbers measured after the run, outside its timing."""
        return {}


class SkyBatch(Workload):
    """Batch skyline queries over point sets written at set-up."""

    n_rows = 0
    unmeasured = STREAM_METRICS | CORPUS_METRICS
    #: whole cycles run on the full data after the cold query: queries
    #: keep speeding up for the first few runs of each shape (JIT)
    warm_cycles = 1

    def generate(self) -> None:
        self.fresh()
        rng = self.rng(0)
        self.pts = {}
        for name, d, _, make in self.datasets():
            self.pts[name] = make(rng, self.rows(), d)
            write_parts(gen.points_frame(self.pts[name]), self.data / name)
            write_parts(gen.points_frame(self.pts[name][: self.rows() // 10]), self.data / f"warm-{name}")

    def rows(self) -> int:
        return max(300, self.n_rows // 100) if self.tiny else self.n_rows

    def reference(self) -> None:
        self.ref = {}
        for name, _, senses, _ in self.datasets():
            ids = np.arange(len(self.pts[name]), dtype=np.int64)
            self.ref[name] = reference.skyline_ids(self.pts[name], senses, ids)

    def load(self, spark, prefix: str = "") -> None:
        self.df = {name: spark.read.parquet(str(self.data / f"{prefix}{name}"))
                   for name, *_ in self.datasets()}

    def warm_up(self, spark) -> None:
        """The first cycle's last (largest d) query on the first tenth of
        its dataset, then ``warm_cycles`` whole cycles on the full data.
        The cold query pays the costs every query shares: Python workers,
        the package import in them, the first jobs' JIT and code
        generation. The cycles bring each shape to its steady speed."""
        self.load(spark, "warm-")
        self.cycle(spark, 0)[-1].fn(Tracer())
        self.load(spark)
        for k in range(self.warm_cycles):
            for op in self.cycle(spark, k):
                op.fn(Tracer())

    def properties(self) -> dict:
        return {
            "rows": self.rows(),
            "digest": digest(self.pts.values()),
            "datasets": {
                name: {"d": d, "senses": senses,
                       "frontier_rows": len(self.ref[name]),
                       "frontier_share": len(self.ref[name]) / self.rows(),
                       "exact_dup_share": 1 - len(np.unique(self.pts[name], axis=0)) / self.rows()}
                for name, d, senses, _ in self.datasets()
            },
        }

    def sky_op(self, label: str, name: str, run) -> Op:
        """One query: ``run(df)`` returns the lazy result; its ids are
        collected inside the timed region."""
        df, ref = self.df[name], self.ref[name]

        def fn(tracer):
            with tracer.span("call"):
                res = run(df)
            with tracer.span("collect"):
                return res.select("id").toPandas()["id"].to_numpy()

        return Op(label, self.rows(), fn, lambda ids: reference.same_ids(ids, ref))

    def layer_probe(self, spark, result: Measured) -> dict:
        rows = secs = 0.0
        for name, _, senses, _ in self.datasets():
            n, s = kernel_rate(self.pts[name], senses)
            rows, secs = rows + n, secs + s
        return {"kernel.rows_per_s": rows / secs}


def _mixed(d: int) -> list[str]:
    return ["min" if j % 2 == 0 else "max" for j in range(d)]


class SkyUniform(SkyBatch):
    """The reference report's input: uniform integers in [0, 1e9];
    ``skyline_sql`` queries with mixed MIN/MAX senses. Cycle ``k`` runs
    d = 2, 3, 5 once each, with the partitioning schemes rotated by
    ``k``, so three cycles cover d in {2, 3, 5} x {MR_DIM, MR_GRID,
    MR_ANGLE}."""

    n_rows = 100_000

    def datasets(self):
        return [(f"u{d}", d, _mixed(d), gen.uniform_points) for d in (2, 3, 5)]


    def cycle(self, spark, k: int) -> list[Op]:
        from pyspark_skyline_spark import skyline_sql

        ops = []
        for j, (name, d, senses, _) in enumerate(self.datasets()):
            q = "SKYLINE OF " + ", ".join(f"x{i} {s.upper()}" for i, s in enumerate(senses))
            algo = SKY_ALGOS[(j + k) % len(SKY_ALGOS)]
            ops.append(self.sky_op(f"{name}-{algo}", name,
                                   lambda df, q=q, a=algo: skyline_sql(df, q, algo=a)))
        return ops


class SkyAnticorr(SkyBatch):
    """Anticorrelated points, d in {3, 6}, ``algo="auto"``: large
    frontiers, so the time goes to the global merge. A cycle runs d = 3
    once and d = 6 once."""

    n_rows = 30_000

    def datasets(self):
        return [(f"a{d}", d, ["min"] * d, gen.anticorrelated_points) for d in (3, 6)]


    def cycle(self, spark, k: int) -> list[Op]:
        from pyspark_skyline_spark import skyline

        ops = []
        for name, d, senses, _ in self.datasets():
            dims = [(f"x{j}", s) for j, s in enumerate(senses)]
            ops.append(self.sky_op(f"{name}-auto", name,
                                   lambda df, dims=dims: skyline(df, dims, algo="auto")))
        return ops


class SkyStream(Workload):
    """Open loop: the driver's main thread writes one parquet file of
    uniform 3-d points per period into the stream source;
    ``run_skyline_stream`` with a processing-time trigger, ``state_dir``
    and ``checkpoint_dir`` keeps the frontier. Phase 1 drains a
    pre-written backlog, phase 2 runs live: ``warm_files`` files, then
    the measured seconds."""

    period_s = 2.0
    trigger = "500 milliseconds"
    #: the engine calls skyline() itself, and its progress is read after
    #: the run, so there is no public call to time and no untraced twin
    unmeasured = frozenset({"driver.call_s", "trace.overhead_frac"})
    #: one file per batch, so a batch's work does not depend on how far
    #: the engine lags the schedule: on a slower host the backlog grows,
    #: not the batches
    max_files_per_trigger = 1
    dims = [("x0", "min"), ("x1", "min"), ("x2", "min")]

    #: live files at the start of phase 2 that are not counted: batch
    #: times settle over the first few batches
    warm_files = 2

    @property
    def loop(self) -> str:
        return f"open loop, {1 / self.period_s:g} files/s of {self.live_rows} rows"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        # more files than one batch takes, so phase 1 runs both update
        # paths: the first batch, then one merged with the frontier
        self.backlog_files = 2
        self.backlog_rows = 100 if self.tiny else 2000
        self.live_rows = 50 if self.tiny else 800
        self.live_files = self.warm_files + max(2, int(self.seconds / self.period_s))

    def generate(self) -> None:
        self.fresh()
        rng = self.rng(0)
        self.backlog = [gen.uniform_points(rng, self.backlog_rows, 3) for _ in range(self.backlog_files)]
        self.live = [gen.uniform_points(rng, self.live_rows, 3) for _ in range(self.live_files)]
        self.src = self.data / "src"
        self.staging = self.data / "staging"
        self.src.mkdir()
        self.staging.mkdir()
        self.next_id = 0
        for i, pts in enumerate(self.backlog):
            self.publish(f"b{i:04d}", pts)

    def publish(self, name: str, pts: np.ndarray) -> float:
        """Write one source file atomically (staging, then rename);
        every row carries its creation time. Returns that time."""
        pdf = gen.points_frame(pts, self.next_id)
        self.next_id += len(pts)
        created = time.time()
        pdf["created_ns"] = np.int64(created * 1e9)
        tmp = self.staging / f"{name}.parquet"
        pdf.to_parquet(tmp, index=False)
        tmp.rename(self.src / tmp.name)
        return created

    def reference(self) -> None:
        dims = [s for _, s in self.dims]
        back = np.concatenate(self.backlog)
        every = np.concatenate([back, *self.live])
        self.ref1 = reference.skyline_ids(back, dims, np.arange(len(back), dtype=np.int64))
        self.ref2 = reference.skyline_ids(every, dims, np.arange(len(every), dtype=np.int64))

    def stream(self, spark, src: Path):
        return (
            spark.readStream.schema("id long, x0 long, x1 long, x2 long, created_ns long")
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .parquet(str(src))
        )

    def warm_up(self, spark) -> None:
        """Phase 1: start the restartable stream and drain the backlog at
        full speed. It starts the Python workers and runs file source,
        foreachBatch, both update paths and the state publish, so it is
        this workload's warm-up and its time counts in ``setup_s``."""
        from pyspark_skyline_spark.streaming.skyline_stream import run_skyline_stream

        t0 = time.time()
        _, self.q = run_skyline_stream(
            self.stream(spark, self.src), self.dims, query_name="perfbench_stream",
            processing_time=self.trigger, state_dir=str(self.data / "state"),
            checkpoint_dir=str(self.data / "ckpt"),
        )
        self.drained = self.wait_files(self.q, self.back_names(), timeout=120)
        batch_of, span = self.committed()
        self.catchup_s = max((span[batch_of[n]][1] for n in self.back_names() if n in batch_of),
                             default=time.time()) - t0

    def back_names(self) -> list[str]:
        return [f"b{i:04d}.parquet" for i in range(self.backlog_files)]

    def frontier_ids(self) -> np.ndarray:
        """The published frontier, read from the state directory without
        Spark."""
        version = (self.data / "state" / "_LATEST").read_text().strip()
        return pd.read_parquet(self.data / "state" / f"frontier_v{version}", columns=["id"])["id"].to_numpy()

    def committed(self) -> tuple[dict[str, int], dict[int, tuple[float, float]]]:
        """From the query checkpoint: the committed batch of every source
        file, and each committed batch's (start, end) epoch times: the
        write times of its offset log entry and of its commit, which
        follows the frontier publication."""
        ckpt = self.data / "ckpt"
        ends, span = {}, {}
        for f in (ckpt / "commits").glob("[0-9]*"):
            if not f.name.isdigit():
                continue
            off = ckpt / "offsets" / f.name
            ends[int(f.name)] = json.loads(off.read_text().splitlines()[2])["logOffset"]
            span[int(f.name)] = (off.stat().st_mtime, f.stat().st_mtime)
        order = sorted(ends)
        batch_of = {}
        for f in (ckpt / "sources" / "0").glob("[0-9]*"):
            if not (f.name.isdigit() or f.name.endswith(".compact")):
                continue
            for line in f.read_text().splitlines()[1:]:
                e = json.loads(line)
                b = next((b for b in order if ends[b] >= e["batchId"]), None)
                if b is not None:
                    batch_of[e["path"].rsplit("/", 1)[-1]] = b
        return batch_of, span

    def wait_files(self, q, names: list[str], timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if q.exception() is not None:
                return False
            if all(n in self.committed()[0] for n in names):
                return True
            time.sleep(0.25)
        return False

    def measure(self, spark, seconds, trace, tracer, session, plant_wrong) -> Measured:
        back, live = self.back_names(), [f"l{j:05d}.parquet" for j in range(self.live_files)]
        errors, failed, q = [], 0, self.q
        try:
            if not (self.drained and self.check(self.ref1, plant_wrong, errors, "phase 1")):
                failed += self.backlog_files
            # phase 2: live files on a fixed schedule, whatever the engine
            # does; the engine runs in the JVM's own threads meanwhile
            t2 = time.time() + self.period_s
            due = [t2 + j * self.period_s for j in range(self.live_files)]
            created, held = [], []
            for j, pts in enumerate(self.live):
                pause = due[j] - time.time()
                if pause > 0:
                    time.sleep(pause)
                if j == self.warm_files:  # the counted window starts
                    t_cpu, cpu0 = time.time(), session.cpu_seconds()
                created.append(self.publish(live[j][:-8], pts))
                if trace:
                    held.append(session.storage())
            time.sleep(max(0.0, due[-1] + self.period_s - time.time()))
            backlog_end = sum(n not in self.committed()[0] for n in live)
            drained = self.wait_files(q, live, timeout=60)
            t_end, cpu_s = time.time(), session.cpu_seconds() - cpu0
            if not (drained and self.check(self.ref2, False, errors, "phase 2")):
                failed += self.live_files
            if q.exception() is not None:
                errors.append(str(q.exception())[:500])
        finally:
            q.stop()
        batch_of, span = self.committed()
        progress = {p["batchId"]: dict(p["durationMs"]) for p in q.recentProgress}
        # counted: the files after the warm ones, and the batches that
        # hold any of them
        timed = live[self.warm_files:]
        latency = [span[batch_of[n]][1] - d
                   for n, d in zip(timed, due[self.warm_files:]) if n in batch_of]
        live_b = sorted({batch_of[n] for n in timed if n in batch_of})
        per_batch = [sum(batch_of.get(n) == b for n in live) for b in live_b]
        self.live_batches = [
            {"id": b, "files": k, "ms": progress.get(b, {})} for b, k in zip(live_b, per_batch)
        ]
        self.backlog_end = backlog_end
        self.files_per_batch = float(statistics.median(per_batch)) if per_batch else 0.0
        late = [c - d for c, d in zip(created, due)]
        rows = sum(per_batch) * self.live_rows
        busy = sum(span[b][1] - span[b][0] for b in live_b)
        # CPU per batch: the counted window's CPU over the batches in it,
        # each counted by the share of its span inside the window (the
        # first one was running when the window opened)
        share = {b: max(0.0, min(e, t_end) - max(s, t_cpu)) / max(e - s, 1e-9)
                 for b, (s, e) in span.items()}
        win_batches = sum(share.values())
        win_rows = self.live_rows * sum(share.get(batch_of.get(n), 0.0) for n in live)
        report = {"stream": {
            "catchup_s": self.catchup_s,
            "catchup_rows_per_s": self.backlog_files * self.backlog_rows / self.catchup_s,
            "catchup_rows": self.backlog_files * self.backlog_rows,
            "phase1_batches": len({batch_of[n] for n in back if n in batch_of}),
            "phase2_batches": len(live_b),
            "live_files": self.live_files,
            "warm_live_files": self.warm_files,
            "published_latencies": len(latency),
            "generator_late_s.p50": float(statistics.median(late)),
            "generator_late_s.max": max(late),
            "generator_behind": max(late) > self.period_s,
            "backlog_files_at_phase2_end": backlog_end,
            "busy_s": busy,
            "cpu_window_s": t_end - t_cpu,
            "cpu_window_batches": win_batches,
            "aliases": {"query_s": "stream.latency_s"},
        }}
        if not latency:  # nothing published: the whole window is the latency
            latency = [time.time() - t2]
        # throughput: rows per second the engine spent inside the counted
        # micro-batches
        return Measured([], latency, rows, extra_attempted=self.backlog_files + self.live_files,
                        extra_failed=failed, errors=errors, report=report,
                        cpu={"batch": [cpu_s / max(win_batches, 1e-9)]},
                        rows_per_cpu_s=win_rows / cpu_s,
                        rate=rows / busy if busy > 0 else 0.0,
                        windows=[(f"batch{b}", *span[b]) for b in live_b], held=held)

    def check(self, ref, plant_wrong, errors, phase) -> bool:
        try:
            got = self.frontier_ids()
            if plant_wrong:
                got = got[:-1]
            if reference.same_ids(got, ref):
                return True
            errors.append(f"{phase}: frontier differs from the reference")
        except Exception as e:
            errors.append(f"{phase}: {type(e).__name__}: {e}"[:500])
        return False

    def properties(self) -> dict:
        return {
            "d": 3,
            "digest": digest([*self.backlog, *self.live]),
            "backlog_rows_per_file": self.backlog_rows,
            "live_rows_per_file": self.live_rows,
            "max_files_per_trigger": self.max_files_per_trigger,
            "files_per_batch.p50": getattr(self, "files_per_batch", 0.0),
            "rows": self.backlog_files * self.backlog_rows + self.live_files * self.live_rows,
            "frontier_rows": len(self.ref2),
            "frontier_share": len(self.ref2) / (self.backlog_files * self.backlog_rows
                                                + self.live_files * self.live_rows),
        }

    def layer_probe(self, spark, result: Measured) -> dict:
        """Query progress of the live batches (pool and frontier rows come
        from the event log), the kernel rate, and the corpus stages: no
        listed workload runs ``curate_corpus`` end to end, so this run
        carries the corpus layer."""
        out = {}
        for key, name in (("stream.trigger_ms", "triggerExecution"), ("stream.add_batch_ms", "addBatch"),
                          ("stream.planning_ms", "queryPlanning"), ("stream.wal_commit_ms", "walCommit")):
            ms = [b["ms"][name] for b in self.live_batches if name in b["ms"]]
            if ms:
                out[key] = float(statistics.median(ms))
        out["stream.backlog_files"] = float(self.backlog_end)
        n, s = kernel_rate(np.concatenate([*self.backlog, *self.live]), [s for _, s in self.dims])
        out["kernel.rows_per_s"] = n / s
        corpus = CorpusCurate(self.seed, "tiny" if self.tiny else "full", self.seconds,
                              self.data / "corpus")
        corpus.generate()
        corpus.reference()
        corpus.load(spark)
        corpus.stage_probe(result)  # compiles and starts the stage code
        out.update(corpus.stage_probe(result))
        return out


class CorpusCurate(Workload):
    """``curate_corpus(docs, eval_df, audit=False)`` end to end over a
    Zipf-vocabulary corpus with planted duplicates, near-duplicates, PII,
    repetitive documents and eval contamination."""

    n_docs = 2000
    unmeasured = STREAM_METRICS

    def docs_count(self) -> int:
        return 200 if self.tiny else self.n_docs

    def generate(self) -> None:
        self.fresh()
        docs, evals, self.truth = gen.corpus(self.rng(0), self.docs_count(),
                                             n_eval=40 if self.tiny else 200)
        write_parts(docs, self.data / "docs")
        write_parts(evals, self.data / "eval", parts=1)
        self.doc_pdf = docs

    def reference(self) -> None:
        self.expected = self.truth["expected"]

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(str(self.data / "docs"))
        self.eval_df = spark.read.parquet(str(self.data / "eval"))

    def warm_up(self, spark) -> None:
        self.load(spark)
        self.cycle(spark, 0)[0].fn(Tracer())

    def cycle(self, spark, k: int) -> list[Op]:
        from pyspark_skyline_spark import curate_corpus

        def fn(tracer):
            with tracer.span("call"):
                out, _ = curate_corpus(self.docs, self.eval_df, audit=False)
            with tracer.span("collect"):
                return out.select("doc_id", "split", "text").toPandas()

        return [Op("curate", self.docs_count(), fn, self.check)]

    def check(self, pdf: pd.DataFrame) -> bool:
        if not reference.same_ids(pdf["doc_id"], self.expected):
            return False
        if not set(pdf["split"]) <= {"train", "val", "test"}:
            return False
        text = "\n".join(pdf["text"])
        return not any(s in text for s in self.truth["pii_strings"])

    def properties(self) -> dict:
        n = self.docs_count()
        shares = {f"{k}_share": len(self.truth[k]) / n for k in gen.CORPUS_SHARES}
        return {"rows": n, "digest": digest(self.doc_pdf["text"]),
                "expected_survivors": len(self.expected), **shares}

    def layer_probe(self, spark, result: Measured) -> dict:
        out = self.stage_probe(result)
        feats = self.doc_pdf["text"].str.split()
        pts = np.column_stack([feats.str.len(), feats.map(lambda t: len(set(t)))]).astype(np.int64)
        n, s = kernel_rate(pts, ["min", "max"])
        out["kernel.rows_per_s"] = n / s
        return out

    def stage_probe(self, result: Measured) -> dict:
        """Each stage function on its own, on the previous stage's
        checkpointed output, materialized by a count. The last count must
        be the planted number of survivors."""
        from pyspark.sql import functions as F

        from pyspark_skyline_spark import decontaminate, pii_scrub, repetition_stats, split_dataset
        from pyspark_skyline_spark.operators.dedup import dedup_corpus, dedup_corpus_exact_phase

        cols = self.docs.columns
        stages = [
            ("corpus.repetition_s", lambda df: repetition_stats(df).where(F.col("keep")).select(*cols)),
            ("corpus.pii_s", lambda df: pii_scrub(df).withColumn("text", F.col("text_scrubbed")).select(*cols)),
            ("corpus.dedup_exact_s", None),
            ("corpus.dedup_s", lambda df: dedup_corpus(df, "doc_id", "text").select(*cols)),
            ("corpus.decontaminate_s", lambda df: decontaminate(df, self.eval_df, "doc_id")),
            ("corpus.split_s", lambda df: split_dataset(df.select(*cols), ["doc_id"],
                                                        {"train": 0.9, "val": 0.05, "test": 0.05})),
        ]
        out, cur, counts = {}, self.docs.localCheckpoint(eager=True), {}
        for key, fn in stages:
            t0 = time.perf_counter()
            if fn is None:  # measured beside the chain: its output is not the next input
                counts[key] = dedup_corpus_exact_phase(cur, "doc_id", "text").count()
            else:
                nxt = fn(cur).localCheckpoint(eager=False)
                counts[key] = nxt.count()
            out[key] = time.perf_counter() - t0
            if fn is not None:
                cur = nxt
        out["dedup.kept_ratio"] = counts["corpus.dedup_s"] / max(1, counts["corpus.pii_s"])
        result.extra_attempted += 1
        if counts["corpus.split_s"] != len(self.expected):
            result.extra_failed += 1
            result.errors.append(f"corpus stages kept {counts['corpus.split_s']} documents, "
                                 f"not {len(self.expected)}")
        return out


WORKLOADS = {
    "sky-uniform": SkyUniform,
    "sky-anticorr": SkyAnticorr,
    "sky-stream": SkyStream,
    "corpus-curate": CorpusCurate,
}
