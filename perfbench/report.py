"""Turns one run's records into metrics and a printed table.

End-to-end metrics come only from untraced ops.  Per-layer metrics are
means per op over the traced ops: means, unlike medians, keep the layer
self times adding up to the op's wall time.
"""

from __future__ import annotations

from dataclasses import dataclass

from perfbench import layers, spans, stats


def _metrics(values: dict, units: dict) -> dict:
    """The JSON metrics; a name missing on either side is a bug here."""
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(values)} != BENCHMARK.json {sorted(units)}")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


# listener durationMs keys -> the streaming layer they time
STREAM_PHASES = {
    "stream.source": ("latestOffset", "getBatch"),
    "stream.planning": ("queryPlanning",),
    "stream.wal_commit": ("walCommit", "commitOffsets"),
}


@dataclass
class Report:
    workload: str
    seed: int
    cpus: int
    ops: list
    prep: list
    jvm_s: float
    inputgen_s: float
    inputs_built: bool
    reads: list
    attempted: int
    failed: int
    errors: list
    tracer: object
    old_peak_mb: float | None
    kind: str

    @property
    def correct(self) -> bool:
        return not self.errors and self.failed == 0

    def _result(self, metrics: dict) -> dict:
        return dict(correct=self.correct, attempted=self.attempted,
                    failed=self.failed, metrics=metrics)

    def _header(self) -> list[str]:
        lines = [
            f"perfbench {self.workload} seed={self.seed} local[{self.cpus}] "
            f"ops={len(self.ops)} attempted={self.attempted} failed={self.failed} "
            f"failed_frac={self.failed / max(1, self.attempted):.4f} "
            f"correct={self.correct}"
        ]
        lines += [f"  CHECK FAILED: {e}" for e in self.errors]
        return lines

    # -- untraced: the end-to-end metrics -----------------------------------
    def untraced(self, units: dict) -> tuple[dict, list[str]]:
        lines = self._header()
        if not self.correct or not self.ops:
            return self._result({}), lines
        samples = [s for op in self.ops for s in op["samples"]]
        values = {
            "setup_s": self.jvm_s + stats.median(self.prep),
            "events_per_s": sum(op["events"] for op in self.ops)
            / sum(op["seconds"] for op in self.ops),
            "op_s_p50": stats.median(samples),
            "read_s": stats.median(self.reads),
        }
        p = stats.tail_percentile(len(samples))
        tail = (f"p{p:g} = {stats.percentile(samples, p):.4f} s"
                if p is not None and p > 50 else
                f"n/a (needs >= {2 * stats.MIN_BEYOND} samples)")
        lines += [
            f"  {'metric':<16}{'value':>14}  unit",
            *(f"  {k:<16}{v:>14.4f}  {units[k]}" for k, v in values.items()),
            f"  op = {self.kind}; {len(samples)} samples; tail {tail}",
            "  samples: " + " ".join(f"{x:.3f}" for x in samples),
            "  reads: " + " ".join(f"{x:.3f}" for x in self.reads),
            f"  setup = jvm {self.jvm_s:.3f} s + median prep "
            f"{stats.median(self.prep):.3f} s of {len(self.prep)}; inputs "
            f"{'built' if self.inputs_built else 'cached'} in {self.inputgen_s:.3f} s",
        ]
        return self._result(_metrics(values, units)), lines

    # -- traced: the per-layer metrics ----------------------------------------
    def _op_rows(self) -> tuple[list[dict], list[dict]]:
        """(per-op layer rows, per-op counter rows) of the traced ops.
        Streaming ops are split into their microbatches."""
        table = spans.layer_table(self.tracer.spans, layers.layer_of)
        by_op: dict[str, list] = {}
        for s in self.tracer.spans:
            if s.end is not None and s.op is not None:
                by_op.setdefault(s.op, []).append(s)
        rows, counts = [], []
        for i, op in enumerate(self.ops):
            if not op["traced"]:
                continue
            op_id = f"op{i}"  # measured ops are numbered from 0
            c = op["counters"]
            if "progress" not in op:
                rows.append(dict(table.get(op_id, {})))
                merges = [s for s in by_op.get(op_id, []) if s.name == "lake.merge"]
                counts.append(self._counts(op, merges, op["events"], c, 1))
                continue
            n = max(1, len(op["progress"]))
            for b in op["progress"]:
                bid = f"{op_id}/b{b['batch']}"
                row = dict(table.get(bid, {}))
                applied = [s for s in by_op.get(bid, [])
                           if s.name == "pipeline.apply_batch"]
                apply_s = sum(s.seconds for s in applied)
                ms = b["ms"]
                for layer, keys in STREAM_PHASES.items():
                    row[layer] = sum(ms.get(k, 0) for k in keys) / 1000.0
                add = ms.get("addBatch", 0) / 1000.0
                row["pipeline.rejects"] = add - apply_s
                row["driver"] = ms["triggerExecution"] / 1000.0 - add - sum(
                    row[k] for k in STREAM_PHASES)
                rows.append(row)
                merges = [s for s in by_op.get(bid, []) if s.name == "lake.merge"]
                events = sum(s.attrs.get("events", 0) for s in applied)
                counts.append(self._counts(op, merges, events, c, n,
                                           input_rows=b["input_rows"]))
        return rows, counts

    @staticmethod
    def _counts(op, merges, events, c, n, input_rows=None) -> dict:
        out = dict(
            events=events,
            log_files=op["log_files"],
            buckets=sum(s.attrs.get("buckets", 0) for s in merges),
            bytes=sum(s.attrs.get("bytes", 0) for s in merges),
            rows=sum(s.attrs.get("rows", 0) for s in merges),
            jobs=c["jobs"] / n, tasks=c["tasks"] / n,
            failed_tasks=c["failed_tasks"] / n,
            scan_rows=c["input_rows"] / n, gc_s=c["gc_s"] / n,
        )
        if input_rows is not None:
            out["stream_rows"] = input_rows
        return out

    def traced(self, units: dict, baseline: dict | None) -> tuple[dict, list[str]]:
        lines = self._header()
        traced = [op for op in self.ops if op["traced"]]
        plain = [op for op in self.ops if not op["traced"]]
        if not self.correct or not traced or not plain:
            return self._result({}), lines
        rows, counts = self._op_rows()

        def mean(xs):
            xs = list(xs)
            return sum(xs) / len(xs) if xs else 0.0

        layer = lambda k: mean(r.get(k, 0.0) for r in rows)  # noqa: E731
        ev = sum(c["events"] for c in counts) or 1
        overhead = mean(o["seconds"] for o in traced) / mean(
            o["seconds"] for o in plain) - 1
        source = "stream.source" if self.workload == "wire" else "pipeline.source"
        values = {
            "setup.jvm_s": self.jvm_s,
            "setup.prep_s": stats.median(self.prep),
            "setup.inputgen_s": self.inputgen_s,
            "pipeline.source_s": layer(source),
            "pipeline.log_files": mean(c["log_files"] for c in counts),
            "pipeline.stats_s": layer("pipeline.stats"),
            "lake.merge_s": layer("lake.merge"),
            "lake.affected_buckets": mean(c["buckets"] for c in counts),
            "lake.rewrite_rows_per_event": sum(c["rows"] for c in counts) / ev,
            "lake.bytes_written": mean(c["bytes"] for c in counts),
            "lineage.io_s": layer("lineage.io"),
            "op.driver_s": layer("driver"),
            "spark.jobs_per_op": mean(c["jobs"] for c in counts),
            "spark.tasks_per_op": mean(c["tasks"] for c in counts),
            "spark.failed_tasks": sum(c["failed_tasks"] for c in counts),
            "spark.scan_rows_per_event": sum(c["scan_rows"] for c in counts) / ev,
            "jvm.gc_s": mean(c["gc_s"] for c in counts),
            "jvm.old_peak_mb": self.old_peak_mb,
            "trace.overhead_frac": overhead,
        }
        wall = mean(sum(r.values()) for r in rows)
        names = sorted({k for r in rows for k in r}, key=lambda k: (k == "driver", k))
        lines += [
            f"  per-layer self time, mean per {self.kind} over {len(rows)} traced "
            f"ops (wall {wall:.4f} s)",
            *(f"    {k:<22}{layer(k):>10.4f} s  {layer(k) / wall:>6.1%}"
              for k in names),
            f"  tracing overhead: traced {self.kind.replace('microbatch', 'session')}s "
            f"{overhead:+.1%} vs untraced ({len(traced)} traced, {len(plain)} untraced)",
        ]
        if self.workload == "wire":
            stream_rows = sum(c.get("stream_rows", 0) for c in counts)
            sessions = mean(o["seconds"] - sum(o["samples"]) for o in traced)
            lines.append(
                f"  stream.input_rows_per_event {stream_rows / ev:.3f}; "
                f"session overhead outside microbatches {sessions:.4f} s")
        if baseline is not None:
            lines.append(
                f"  single-thread baseline: one cold first-sync replay on local[1] "
                f"of {baseline['events']} events: {baseline['events_per_s']:.1f} "
                f"events/s")
        lines += [f"  {k:<30}{v:>16.4f}  {units[k]}" for k, v in values.items()]
        return self._result(_metrics(values, units)), lines

    def single_pass(self) -> dict:
        op = self.ops[0]
        return dict(events_per_s=op["events"] / op["seconds"],
                    seconds=op["seconds"], events=op["events"])
