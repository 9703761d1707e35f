"""The benchmark's workloads.  Each is a closed loop: one op at a time
from one process.  Inputs are whole ``sparkcollector.synth`` draws
(Zipf-skewed conversations, as synth makes them); the program sees
only the generated files.  Why each workload exists is in
``pipebench/README.md``.

The data is a fixed pool of draws, the same for every ``--seed``; the
seed sets the order in which ops take them.  synth's conversations
reach 5000 turns, so a 50k-turn draw holds a handful of conversations
that are each a tenth of it, and where those hash among the conv_id
shuffle partitions sets the op's straggler: from one whole draw to the
next, op time moved by up to 55%.  That is a property of the pipeline,
and every draw in the pool keeps it; fixing the pool keeps it from
turning into seed-to-seed noise.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

import oracle
from layertrace import span

# Root of the pool's synth seeds.  Not tuned: draw k of kind c is
# synth seed SeedSequence([DATA_SEED, c, k]).
DATA_SEED = 0
# bulk_flat's pool: TABLES flat tables of TABLE_TURNS turns, each one
# whole synth draw written as TABLE_FILES parquet files (so draining a
# table through the streaming source, at 8 files per trigger, takes
# two micro-batches).  A run times whole cycles over the pool, so
# every run covers the same draws.  Sized so one steady op takes a few
# seconds on a 4-core host: the per-turn slope (parse, conv_id shuffle,
# sort, partitioned write, agg_counts re-read) dominates the fixed cost.
TABLES = 4
TABLE_FILES = 16
TABLE_TURNS = 50_000
# One small increment per resume_small op: the fixed per-query cost
# dominates.
RESUME_TURNS = 5_000
# resume_small runs a fixed count of increments, so the output tables
# reach the same length on every commit whatever its speed.
RESUME_OPS = 8


def _draw(kind: int, k: int, n: int):
    """Whole synth draw ``k`` of pool ``kind``: ``n`` turns, conv_ids
    prefixed with the draw so no two draws share a conversation."""
    import numpy as np

    from sparkcollector.synth import generate_pandas

    seed = int(np.random.SeedSequence([DATA_SEED, kind, k]).generate_state(1)[0])
    pdf = generate_pandas(n, seed=seed)
    pdf["conv_id"] = f"d{kind}.{k:02d}-" + pdf["conv_id"]
    return pdf


def _write_turns(pdf, path: str) -> None:
    """The transcripts table layout ``synth.write_parquet`` writes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    i = table.schema.get_field_index("turn_idx")
    table = table.set_column(i, "turn_idx", table.column("turn_idx").cast(pa.int32()))
    pq.write_table(table, path)


def _order(seed: int, n: int) -> list[int]:
    import numpy as np

    return [int(x) for x in np.random.default_rng(seed).permutation(n)]


class Workload:
    """One workload's inputs, oracle and op.  ``generate`` also sets
    ``probe_input``, the input of the traced run's stage probes and
    stream drain, and ``probe_expected``, its oracle counts; both are
    the same for every seed.  ``op(spark, i, warm, slot)`` does its
    preparation and its check outside the timer and returns a dict:
    ``s`` (timed seconds), ``window`` (wall-clock start and end),
    ``turns``, ``got`` (committed rows per sink) and ``bad`` (oracle
    mismatches, empty when correct).  ``slot`` picks the op's input
    where the workload has a pool; a timed run covers whole cycles of
    ``cycle`` slots."""

    name = ""
    fixed_ops: int | None = None  # timed op count when it is fixed
    warmup_ops = 0
    cycle = 1
    ref_rows = 0  # rows of the reference job timed before each op

    def __init__(self, work: str, seed: int, tracer=None):
        self.work = work
        self.seed = seed
        self.tracer = tracer

    def _timed(self, i: int, fn) -> tuple[object, dict]:
        w0, t0 = time.time(), time.perf_counter()
        with span(self.tracer, "op", op=i):
            result = fn()
        return result, {"s": time.perf_counter() - t0, "window": (w0, time.time())}

    def _fresh(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        return path


class BulkFlat(Workload):
    """One ``run_pipeline`` over one of the pool's flat parquet tables
    per op, into a fresh output directory."""

    name = "bulk_flat"
    # Op time falls steeply for a few ops after the cold first one, then
    # slowly; op time over reference time is flat from the third op on.
    # A fixed count keeps setup_s from moving in whole ops.
    warmup_ops = 4
    cycle = TABLES
    ref_rows = 50_000

    def generate(self) -> None:
        self.tables, self.expected = [], []
        for k in range(TABLES):
            pdf = _draw(0, k, TABLE_TURNS)
            table = os.path.join(self.work, "in", f"table-{k}")
            step = -(-len(pdf) // TABLE_FILES)
            for f in range(TABLE_FILES):
                _write_turns(pdf.iloc[f * step:(f + 1) * step],
                             os.path.join(table, f"part-{f:03d}.parquet"))
            self.tables.append(table)
            self.expected.append(oracle.expected_sinks(pdf))
        self.order = _order(self.seed, TABLES)
        self.probe_input, self.probe_expected = self.tables[0], self.expected[0]

    def setup(self, spark) -> None:
        for table in self.tables:
            spark.read.parquet(table).schema

    def op(self, spark, i: int, warm: bool, slot: int) -> dict:
        from sparkcollector.checkpoint import SnapshotCatalog
        from sparkcollector.job import run_pipeline

        k = self.order[slot % TABLES]
        out = self._fresh("out", f"op-{i}")
        m, res = self._timed(i, lambda: run_pipeline(spark, self.tables[k], out))
        got = oracle.committed_sinks(SnapshotCatalog(f"{out}/routed").snapshots())
        agg = oracle.committed_agg_total(SnapshotCatalog(f"{out}/agg_counts").snapshots())
        shutil.rmtree(out, ignore_errors=True)
        return {**res, "turns": m["turns"], "got": got,
                "bad": oracle.mismatches(self.expected[k], got, m["turns"], agg)}


class ResumeSmall(Workload):
    """Append one small increment to a snapshot-catalog input table
    (untimed), then resume the pipeline from its watermark (timed).
    The output tables grow through the run."""

    name = "resume_small"
    fixed_ops = RESUME_OPS
    # Small ops keep speeding up for longer than bulk_flat's.
    warmup_ops = 6
    ref_rows = 5_000

    def generate(self) -> None:
        self.increments, self.expected = {}, {}
        for warm, kind, n in ((True, 1, self.warmup_ops), (False, 2, RESUME_OPS)):
            paths, expected = [], []
            for k in range(n):
                pdf = _draw(kind, k, RESUME_TURNS)
                path = os.path.join(self.work, "in", f"inc-{kind}", f"{k:03d}", "part.parquet")
                _write_turns(pdf, path)
                paths.append(path)
                expected.append(oracle.expected_sinks(pdf))
            order = _order(self.seed + kind, n)
            self.increments[warm] = [(paths[j], expected[j]) for j in order]
            if not warm:
                self.probe_input = os.path.dirname(paths[0])
                self.probe_expected = expected[0]

    def setup(self, spark) -> None:
        """Warm-up ops and timed ops each get their own input table,
        output tables and watermark, so the timed tables start empty."""
        from sparkcollector.checkpoint import SnapshotCatalog

        self.tables = {
            warm: (
                SnapshotCatalog(self._fresh(tag, "input")),
                self._fresh(tag, "out"),
                os.path.join(self.work, tag, "resume.json"),
            )
            for warm, tag in ((True, "warm"), (False, "timed"))
        }
        self.pending = {warm: list(incs) for warm, incs in self.increments.items()}

    def op(self, spark, i: int, warm: bool, slot: int) -> dict:
        from sparkcollector.checkpoint import SnapshotCatalog
        from sparkcollector.job import run_pipeline

        src, out, state = self.tables[warm]
        path, expected = self.pending[warm].pop(0)
        src.append(spark.read.parquet(path))
        routed = SnapshotCatalog(f"{out}/routed")
        agg = SnapshotCatalog(f"{out}/agg_counts")
        n_routed, n_agg = len(routed.snapshots()), len(agg.snapshots())
        m, res = self._timed(i, lambda: run_pipeline(
            spark, None, out, input_table=src.table_dir, resume_state=state
        ))
        got = oracle.committed_sinks(routed.snapshots()[n_routed:])
        agg_total = oracle.committed_agg_total(agg.snapshots()[n_agg:])
        return {**res, "turns": m["turns"], "got": got,
                "bad": oracle.mismatches(expected, got, m["turns"], agg_total)}


def drain(spark, tracer, input_dir: str, out: str, ckpt: str):
    """Run the streaming pipeline over everything in ``input_dir`` and
    wait for it to finish."""
    from sparkcollector.streaming import stream_routed, stream_transcripts, write_stream_sinks

    with span(tracer, "stream.plan"):
        routed = stream_routed(stream_transcripts(spark, input_dir))
    query = write_stream_sinks(routed, out, ckpt)
    if not query.awaitTermination(150):
        query.stop()
        raise RuntimeError("stream did not drain within 150 s")
    return query


def check_stream(query, out: str, expected: dict) -> list[str]:
    """Mismatches of a drained stream's committed rows against
    ``expected``."""
    from sparkcollector.checkpoint import SnapshotCatalog

    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
    got = oracle.committed_sinks(SnapshotCatalog(f"{out}/routed").snapshots())
    return oracle.mismatches(expected, got, sum(got.values()), None)


WORKLOADS = {w.name: w for w in (BulkFlat, ResumeSmall)}
