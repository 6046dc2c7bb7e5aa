"""The workloads.  Each drives only public surfaces of the program:
``CDCPipeline.replay`` / ``run_streaming``, ``ParquetLakeTable.read`` and
the ``changelog`` generator (through ``inputs``).

A workload provides ``prep()`` (the program's own preparation, repeated
for the set-up median), ``op(i)`` (one closed-loop op; it brackets its
timed part with ``ctx.op_begin`` / ``ctx.op_end``), ``lake()`` (the table a
consumer reads) and ``check()`` (correctness errors, empty when right),
plus ``read_warmup`` / ``reads``: how many untimed reads of that table run
back to back before the timed window, and how many timed ones are spread
over it.
"""

from __future__ import annotations

import glob
import os
import shutil

from perfbench import oracle
from perfbench.inputs import SIZES, link_files

N_BUCKETS = 32
STREAM = "transcripts"


def _pipeline(ctx, **cfg):
    from singer_tap_spark import CDCPipeline, PipelineConfig

    return CDCPipeline(ctx.spark, PipelineConfig(n_buckets=N_BUCKETS, **cfg))


def _write_read(ctx, lake, out: str) -> str:
    """The consumer-visible table, written out for the DuckDB comparison."""
    lake.read().select(*oracle.COLS.split(", ")).write.parquet(out)
    return f"{out}/*.parquet"


class Backfill:
    """First sync: ``replay()`` of a whole log into a fresh cow table.  Not a
    workload of its own: the traced tail run replays the tail base log with
    it once on ``local[1]``, as the single-thread baseline."""

    op_kind = "replay"

    def __init__(self, ctx, log: str) -> None:
        self.ctx, self.log = ctx, log

    def _cfg(self, tag: str) -> dict:
        w = self.ctx.work
        return dict(changelog_path=self.log, target_path=f"{w}/tgt-{tag}",
                    lineage_path=f"{w}/lineage-{tag}.json")

    def prep(self) -> None:
        _pipeline(self.ctx, **self._cfg("prep"))

    def op(self, i) -> dict:
        pipe = _pipeline(self.ctx, **self._cfg(str(i)))
        self.ctx.op_begin(i)
        m = pipe.replay()
        sec = self.ctx.op_end()
        return dict(seconds=sec, events=m.total_events, samples=[sec],
                    log_files=len(glob.glob(f"{self.log}/*/*.parquet")))


class Tail:
    """Bookmark-resumed sessions: each lands the next seq segment of the
    log and calls ``replay()``, which resumes from the lineage cursors."""

    name = "tail"
    warmup = 4
    op_kind = "session"
    # a read is ~0.15 s; with 6 untimed reads the first timed ones ran ~40%
    # above the last, with 20 ~20%
    read_warmup = 20
    reads = 20

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n_prep = 0
        self.next_seg = 0
        self.segments = SIZES["tail"]["segments"]

    def _land(self, seg: int, log: str) -> None:
        # Spark names a task's file alike in every partition dir: prefix
        for shard_dir in sorted(glob.glob(f"{self.ctx.inputs}/segs/seg={seg}/shard=*")):
            link_files(glob.glob(f"{shard_dir}/*.parquet"),
                       f"{log}/{os.path.basename(shard_dir)}", prefix=f"seg{seg}-")

    def prep(self) -> None:
        """Base backfill of a fresh table from the base log; the last rep's
        table is the one the sessions extend."""
        if self.n_prep:
            shutil.rmtree(self.base, ignore_errors=True)
        self.n_prep += 1
        self.base = f"{self.ctx.work}/prep-{self.n_prep}"
        self.cfg = dict(changelog_path=f"{self.base}/log",
                        target_path=f"{self.base}/tgt",
                        lineage_path=f"{self.base}/lineage.json")
        self._land(-1, self.cfg["changelog_path"])
        _pipeline(self.ctx, **self.cfg).replay()

    def has_more(self) -> bool:
        return self.next_seg < self.segments

    def op(self, i) -> dict:
        self._land(self.next_seg, self.cfg["changelog_path"])
        self.next_seg += 1
        files = len(glob.glob(f"{self.cfg['changelog_path']}/*/*.parquet"))
        self.pipe = _pipeline(self.ctx, **self.cfg)
        self.ctx.op_begin(i)  # the segment is visible from here on
        m = self.pipe.replay()
        sec = self.ctx.op_end()
        return dict(seconds=sec, events=m.total_events, samples=[sec],
                    log_files=files)

    def lake(self):
        return self.pipe.lake

    def check(self) -> list[str]:
        log_glob = f"{self.cfg['changelog_path']}/*/*.parquet"
        got = _write_read(self.ctx, self.lake(), f"{self.ctx.work}/check")
        return (oracle.check_table(got, oracle.parquet(log_glob))
                + oracle.check_cursors(self.cfg["lineage_path"], STREAM, log_glob))


class Wire:
    """Singer wire through Structured Streaming: each op is one
    ``run_streaming(available_now=True)`` session over newly landed
    JSON-lines files, paced one file per microbatch, into a mor table with
    cadenced compaction and a dead-letter quarantine.  The microbatch is the
    timed unit (listener ``triggerExecution``)."""

    name = "wire"
    warmup = 2
    op_kind = "microbatch"
    # a read is ~0.35 s, 0.6 s with the gc before it: fewer than on tail, to
    # fit the time budget; the timed reads still fall ~25% through a run
    read_warmup = 10
    reads = 16
    compact_every = 4
    # warm-up sessions land 3 files each: batches 0-5, compacted after
    # batch 3, so the read snapshot taken after them holds two pending mor
    # deltas.  Timed sessions land `compact_every` files each, so every
    # timed session holds exactly one compaction, however many fit the window
    warmup_files = 3

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.files = sorted(glob.glob(f"{ctx.inputs}/log/*.jsonl"))
        self.landed = 0
        self.sessions = 0
        w = ctx.work
        self.cfg = dict(
            changelog_path=f"{w}/log", target_path=f"{w}/tgt",
            lineage_path=f"{w}/lineage.json", checkpoint_dir=f"{w}/ckpt",
            changelog_format="jsonl", rejects_path=f"{w}/rejects",
            sink_mode="mor", sink_compact_every=self.compact_every,
            max_files_per_trigger=1,
        )

    def prep(self) -> None:
        _pipeline(self.ctx, **self.cfg)

    def has_more(self) -> bool:
        return self.landed + self.compact_every <= len(self.files)

    def op(self, i) -> dict:
        n = self.warmup_files if self.sessions < self.warmup else self.compact_every
        batch = self.files[self.landed:self.landed + n]
        link_files(batch, self.cfg["changelog_path"])
        self.landed += len(batch)
        self.pipe = _pipeline(self.ctx, **self.cfg)
        self.ctx.op_begin(i)
        m = self.pipe.run_streaming(available_now=True)
        sec = self.ctx.op_end()
        self.sessions += 1
        run_id = self.ctx.listener.wait_terminated(self.sessions)
        progress = self.ctx.listener.of_run(run_id)
        return dict(
            seconds=sec, events=m.total_events,
            samples=[b["ms"]["triggerExecution"] / 1000.0 for b in progress],
            progress=progress, log_files=self.landed, run_id=run_id,
        )

    def lake(self):
        return self.pipe.lake

    def check(self) -> list[str]:
        landed_f = self.landed  # file index f < landed were applied
        inputs = self.ctx.inputs
        got = _write_read(self.ctx, self.lake(), f"{self.ctx.work}/check")
        events = (f"(SELECT * FROM {oracle.parquet(f'{inputs}/oracle/events/*/*.parquet')}"
                  f" WHERE f < {landed_f})")
        expected = (f"SELECT value FROM "
                    f"{oracle.parquet(f'{inputs}/oracle/rejects/*/*.parquet')}"
                    f" WHERE f < {landed_f}")
        return (oracle.check_table(got, events)
                + oracle.check_rejects(f"{self.cfg['rejects_path']}/*/*.parquet",
                                       expected))


WORKLOADS = {w.name: w for w in (Tail, Wire)}
