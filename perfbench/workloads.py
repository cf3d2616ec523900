"""The benchmark's workloads.

Every workload is a closed loop with one client: the benchmark lands the
next change files (untimed), then starts the next pass and waits for it.
A workload runs twice in one process: first on a small throwaway copy
that warms the JVM (part of set-up), then on fresh paths for the timed
part.  Pass counts are fixed per workload, so the timed window sits at
the same place on the warm-up and file-accretion curves in every run.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

import gen
from aws_big_data_blog_dmscdc_walkthrough_spark.pipeline import controller
from aws_big_data_blog_dmscdc_walkthrough_spark.sources import landing, manifest
from aws_big_data_blog_dmscdc_walkthrough_spark.state.store import JsonStateStore
from aws_big_data_blog_dmscdc_walkthrough_spark.streaming import cdc_stream


@dataclass(frozen=True)
class Shape:
    """What one workload stages and how many passes it runs."""

    tables: tuple[str, ...]
    load_files: int  # LOAD files per table
    mix: gen.ChangeMix
    pass_s: float  # nominal pass + read time: --seconds / pass_s = timed passes
    stream: bool = False
    compact_every: int = 0

    def timed_passes(self, seconds: float) -> int:
        return max(2, round(seconds / self.pass_s))


SHAPES = {
    # 4 sf0.1-sized tables, ~0.1% key-clustered changes per table per
    # pass: per-commit fixed overhead dominates.
    "trickle_multi": Shape(
        tables=("orders", "customer", "part", "supplier"),
        load_files=1,
        mix=gen.ChangeMix(frac=0.001),
        pass_s=3.0,
    ),
    # an update-heavy orders stream applied merge-on-read, compacted
    # every 5th micro-batch, read after every drain.  An odd compaction
    # period puts compactions on both traced and untraced passes.
    "stream_mor_reads": Shape(
        tables=("orders",),
        load_files=1,
        mix=gen.ChangeMix(frac=0.005, ins=0.1, dels=0.1, clustered=False),
        pass_s=3.0,
        stream=True, compact_every=5,
    ),
    # one 600k-row lineitem in 32 LOAD files, ~0.05% uniformly scattered
    # changes: every pass rewrites every data file.  Not in
    # BENCHMARK.json (the run budget fits two steady workloads); run it
    # by name for the traced merge-versus-overhead contrast.
    "scatter_cow": Shape(
        tables=("lineitem",),
        load_files=32,
        mix=gen.ChangeMix(frac=0.0005, ins=0.1, dels=0.1, clustered=False),
        pass_s=2.2,
    ),
}

SCHEMA = "tpch"  # catalog schema (= landing folder) of the timed copy
READS_PER_PASS = 3  # the controller workloads' catalog read, repeated


class Failures:
    """Operations attempted and failed, with the first few reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 10:
                self.reasons.append(reason[:300])


def spark_ddl(schema: pa.Schema) -> str:
    names = {pa.int64(): "BIGINT", pa.int32(): "INT", pa.float64(): "DOUBLE",
             pa.string(): "STRING"}
    return ", ".join(f"`{f.name}` {names[f.type]}" for f in schema)


def frame_digest(frame) -> str:
    """Content digest of a generated frame (determinism check)."""
    h = hashlib.sha256(",".join(frame.columns).encode())
    h.update(pd.util.hash_pandas_object(frame, index=False).to_numpy().tobytes())
    return h.hexdigest()


class Staged:
    """A generated landing zone: LOAD files written, CDC files parked in
    ``pending`` until their pass lands them.

    ``expect[t][i]`` is the live table ``t`` after ``i`` batches, as
    ``(count, sum of the read column)``; ``probes[i]`` are the stream
    workload's expected read-set results after batch ``i``.
    """

    def __init__(self, root: str, schema: str, shape: Shape, seed: int,
                 scale: float, n_batches: int, write: bool = True):
        self.root, self.schema, self.shape = root, schema, shape
        self.landing = f"{root}/landing"
        self.pending = f"{root}/pending"
        self.lake = f"{root}/lake"
        self.batches: list[dict[str, str]] = []  # per batch: table -> file
        self.batch_rows: list[int] = []
        self.expect: dict[str, list[tuple[int, int]]] = {}
        self.probes: list[dict] = []
        self.digest = hashlib.sha256()
        self.schemas: dict[str, pa.Schema] = {}
        rng = np.random.default_rng(seed * 7919 + 17)
        hists = {
            t: gen.TableHistory(gen.TABLES[t], seed * 1009 + i, scale)
            for i, t in enumerate(shape.tables)
        }
        planned: list[tuple[str, object]] = []
        for t, h in hists.items():
            self.expect[t] = [self._agg(h)]
            init = h.initial()
            self.schemas[t] = gen.arrow_table(init.head(1)).schema
            if shape.stream:  # the snapshot is the stream's first batch
                planned.append((f"{self.pending}/{t}/{gen.cdc_name(0)}",
                                init.assign(Op="I")[["Op", *init.columns]]))
            else:
                for j, part in enumerate(gen.split_frame(init, shape.load_files)):
                    planned.append((f"{self.folder(t)}/{gen.load_name(j + 1)}", part))
        if shape.stream:
            self.probes.append(self._probe(hists[shape.tables[0]], rng))
        for i in range(1, n_batches + 1):
            files, rows = {}, 0
            for t, h in hists.items():
                batch = h.next_batch(shape.mix)
                files[t] = f"{self.pending}/{t}/{gen.cdc_name(i)}"
                planned.append((files[t], batch))
                rows += len(batch)
                self.expect[t].append(self._agg(h))
            if shape.stream:
                self.probes.append(self._probe(hists[shape.tables[0]], rng))
            self.batches.append(files)
            self.batch_rows.append(rows)
        for path, frame in planned:
            self.digest.update(path.rsplit("/", 1)[-1].encode())
            self.digest.update(frame_digest(frame).encode())
            if write:
                gen.write_parquet(frame, path)
        self.hists = hists

    @staticmethod
    def _agg(h: gen.TableHistory) -> tuple[int, int]:
        live = h.live_codes()
        return len(live), int(h.cols[h.columns[0]][live].sum())

    @staticmethod
    def _probe(h: gen.TableHistory, rng) -> dict:
        """The stream's read set and its expected answers: one point
        lookup, one key range (count, sum of o_custkey) and the full
        aggregate (count, sum of o_custkey, sum of o_totalprice)."""
        live = h.live_codes()
        key = int(live[rng.integers(0, len(live))])
        lo = int(live[rng.integers(0, len(live))])
        hi = lo + 2_000
        in_range = live[(live >= lo) & (live < hi)]
        return {
            "key": key,
            "row": h.rows(np.array([key])).iloc[0].to_dict(),
            "range": (lo, hi, len(in_range), int(h.cols["o_custkey"][in_range].sum())),
            "agg": (len(live), int(h.cols["o_custkey"][live].sum()),
                    float(h.cols["o_totalprice"][live].sum())),
        }

    def folder(self, t: str) -> str:
        """Table ``t``'s landing folder (the stream's source folder)."""
        return f"{self.landing}/{self.schema}/{t}"

    def land_file(self, t: str, pending_path: str) -> int:
        """Move one parked file into the landing zone; returns its size."""
        os.makedirs(self.folder(t), exist_ok=True)
        size = os.path.getsize(pending_path)
        os.rename(pending_path, f"{self.folder(t)}/{pending_path.rsplit('/', 1)[-1]}")
        return size

    def land(self, i: int) -> int:
        """Land batch ``i``'s files; returns the bytes landed."""
        return sum(self.land_file(t, src) for t, src in self.batches[i - 1].items())

    def landed_count(self) -> int:
        """Files in the landing zone (what discovery lists each pass)."""
        return sum(len(files) for _, _, files in os.walk(self.landing))

    def table_dirs(self) -> list[str]:
        return [f"{self.lake}/{self.schema}/{t}" for t in self.shape.tables]

    def landed_files(self, t: str) -> tuple[list[str], list[str]]:
        """(LOAD files, CDC files) of table ``t`` now in the landing zone."""
        folder = self.folder(t)
        full = [f"{folder}/{n}" for n in sorted(os.listdir(folder))]
        loads = [f for f in full if f.rsplit("/", 1)[-1].startswith("LOAD")]
        return loads, [f for f in full if f not in loads]


def stage_timed(root: str, shape: Shape, seed: int, scale: float, n: int,
                repeats: int = 3):
    """Generate the timed landing (``n`` batches) ``repeats`` times; only
    the first writes, and every copy must be identical.  Returns the
    staged zone and the median generation time."""
    times, digests, staged = [], [], None
    for r in range(repeats):
        t0 = time.perf_counter()
        s = Staged(root, SCHEMA, shape, seed, scale, n, write=(r == 0))
        times.append(time.perf_counter() - t0)
        digests.append(s.digest.hexdigest())
        staged = staged or s
    if len(set(digests)) != 1:
        raise RuntimeError("the same seed generated different inputs")
    return staged, statistics.median(times)


# ---------------------------------------------------------------------------
# controller workloads (trickle_multi, scatter_cow)


class ControllerLoop:
    """``controller.run_once`` over a staged landing zone, with catalog
    registration and manifest commits on, followed by one catalog read."""

    def __init__(self, spark, staged: Staged, failures: Failures):
        self.spark, self.s, self.failures = spark, staged, failures
        self.store = JsonStateStore(f"{staged.root}/state.json")
        for folder in landing.discover_tables(spark, staged.landing):
            st = self.store.get_or_create(folder.path, schema=folder.schema,
                                          table=folder.table)
            st.primary_key = ",".join(gen.TABLES[folder.table].pk)
            st.active = True
            st.extra = {"use_manifest": True}
            self.store.put(st)

    def run_pass(self) -> float:
        t0 = time.perf_counter()
        try:
            report = controller.run_once(self.spark, self.s.landing, self.s.lake,
                                         self.store)
        except Exception as exc:  # a failed pass is counted, not fatal
            self.failures.record(False, f"run_once raised: {exc!r}")
            return time.perf_counter() - t0
        wall = time.perf_counter() - t0
        for t in report.tables:
            self.failures.record(not t.error, f"{t.path}: {t.error}")
        return wall

    def read(self, i: int) -> list[float]:
        """The catalog read, ``READS_PER_PASS`` times: count and key sum
        of the first table by its catalog name, each checked against the
        generator's live table.  Returns each read's latency."""
        t = self.s.shape.tables[0]
        col = gen.TABLES[t].pk[0]
        sql = f"SELECT count(*) AS n, sum({col}) AS s FROM {self.s.schema}.{t}"
        walls = []
        for _ in range(READS_PER_PASS):
            t0 = time.perf_counter()
            try:
                row = self.spark.sql(sql).collect()[0]
            except Exception as exc:
                self.failures.record(False, f"catalog read raised: {exc!r}")
                continue
            walls.append(time.perf_counter() - t0)
            got, want = (row["n"], int(row["s"] or 0)), self.s.expect[t][i]
            self.failures.record(got == want, f"catalog read after batch {i}: {got} != {want}")
        return walls

    def check(self) -> list[str]:
        """Final state of every table through ``manifest.read_table`` and
        through its catalog name, against the pandas oracle."""
        problems = []
        for t in self.s.shape.tables:
            spec = gen.TABLES[t]
            loads, cdcs = self.s.landed_files(t)
            want = gen.expected_state(spec, loads, cdcs)
            own = gen.normalize(self.s.hists[t].initial(), spec.pk)
            if gen.mismatch(want, own):
                problems.append(f"{t}: generator state disagrees with the oracle")
            path = f"{self.s.lake}/{self.s.schema}/{t}"
            for how, df in (("manifest", lambda: manifest.read_table(self.spark, path)),
                            ("catalog", lambda: self.spark.table(f"{self.s.schema}.{t}"))):
                got = gen.normalize(df().toPandas(), spec.pk)
                why = gen.mismatch(want, got)
                if why:
                    problems.append(f"{t} via {how}: {why}")
        return problems


# ---------------------------------------------------------------------------
# stream workload (stream_mor_reads)


class StreamLoop:
    """One ``start_cdc_stream(available_now, merge_on_read)`` drain per
    pass, then the read set through ``manifest.read_table``."""

    def __init__(self, spark, staged: Staged, failures: Failures):
        self.spark, self.s, self.failures = spark, staged, failures
        self.table = staged.shape.tables[0]
        self.path = f"{staged.lake}/{staged.schema}/{self.table}"
        self.ddl = "Op STRING, " + spark_ddl(staged.schemas[self.table])
        self.progress: list[list[dict]] = []

    def land_snapshot(self) -> None:
        self.s.land_file(self.table, f"{self.s.pending}/{self.table}/{gen.cdc_name(0)}")

    def run_pass(self) -> float:
        t0 = time.perf_counter()
        try:
            q = cdc_stream.start_cdc_stream(
                self.spark, self.s.folder(self.table), self.path,
                list(gen.TABLES[self.table].pk), self.ddl,
                f"{self.s.root}/checkpoint", available_now=True,
                merge_on_read=True, compact_every=self.s.shape.compact_every,
            )
            q.awaitTermination()
            wall = time.perf_counter() - t0
            exc = q.exception()
            self.progress.append(list(q.recentProgress))
        except Exception as exc_:  # a failed drain is counted, not fatal
            self.failures.record(False, f"drain raised: {exc_!r}")
            return time.perf_counter() - t0
        self.failures.record(exc is None, f"stream batch raised: {exc}")
        return wall

    def read(self, i: int) -> list[float]:
        """Point lookup, key-range aggregate and full aggregate, timed
        together as one sample; each is checked against the generator's
        live table after batch ``i``."""
        p = self.s.probes[i]
        spark, path = self.spark, self.path
        t0 = time.perf_counter()
        try:
            point = manifest.read_table(
                spark, path, predicate=("o_orderkey", "=", p["key"])
            ).collect()
            lo, hi = p["range"][:2]
            rng = (
                manifest.read_table(spark, path, predicate=("o_orderkey", ">=", lo))
                .where(F.col("o_orderkey") < hi)
                .agg(F.count("*").alias("n"), F.sum("o_custkey").alias("s"))
                .collect()[0]
            )
            agg = (
                manifest.read_table(spark, path)
                .agg(F.count("*").alias("n"), F.sum("o_custkey").alias("s"),
                     F.sum("o_totalprice").alias("p"))
                .collect()[0]
            )
        except Exception as exc:
            self.failures.record(False, f"read set raised: {exc!r}")
            return []
        wall = time.perf_counter() - t0
        row = point[0].asDict() if len(point) == 1 else None
        if row is not None:
            row = {k: row[k] for k in p["row"]}
        self.failures.record(row == p["row"], f"point lookup after batch {i}: {row}")
        got = (rng["n"], int(rng["s"] or 0))
        self.failures.record(got == p["range"][2:], f"range after batch {i}: {got}")
        n, s, price = p["agg"]
        ok = (agg["n"], int(agg["s"] or 0)) == (n, s) and \
            abs((agg["p"] or 0.0) - price) <= 1e-9 * abs(price)
        self.failures.record(ok, f"aggregate after batch {i}: {agg}")
        return [wall]

    def check(self) -> list[str]:
        spec = gen.TABLES[self.table]
        _, cdcs = self.s.landed_files(self.table)
        want = gen.expected_state(spec, [], cdcs)
        problems = []
        if gen.mismatch(want, gen.normalize(self.s.hists[self.table].initial(), spec.pk)):
            problems.append("generator state disagrees with the oracle")
        got = gen.normalize(manifest.read_table(self.spark, self.path).toPandas(), spec.pk)
        why = gen.mismatch(want, got)
        if why:
            problems.append(f"{self.table} via manifest: {why}")
        return problems


def make_loop(spark, staged: Staged, failures: Failures):
    cls = StreamLoop if staged.shape.stream else ControllerLoop
    return cls(spark, staged, failures)


def initial_load(loop) -> float:
    """The pass that builds the lake from the full load (the stream's
    first drain applies the snapshot)."""
    if isinstance(loop, StreamLoop):
        loop.land_snapshot()
    return loop.run_pass()
