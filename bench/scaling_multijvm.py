#!/usr/bin/env python
"""Two-cluster-size scaling evidence, multi-JVM executor analogue.

The r1 protocol (bench/scaling.py, since deleted) grew ONE JVM from local[4]
to local[16].  That conflates executor scaling with single-process limits
(shared heap, GC, one memory-allocator arena), and this oversubscribed VM's
own envelope tops out at ~3.3x for 4->16 *cores*.  The truer analogue of adding executors —
endorsed by the r1 review — is adding whole pinned JVMs:

    config A (N):  1 JVM x local[2], pinned to 2 cpus, 6g heap — all shards
    config B (4N): 4 JVMs x local[2], each pinned to its own 2 cpus,
                   6g heap, each owning shards where shard_idx % 4 == i

Work partitioning is BY SHARD: conversations are shard-local
(shard = xxhash64(conv_id) % n, changelog.py), so the four JVMs split the
job exactly like bucketed executors on a real cluster — each writes its own
disjoint slice of the target table, no cross-executor traffic, which is how
the bucket-partitioned sink is designed to deploy (lake.py layout notes).
Config A processes the identical total input in one executor.

The host honors this range: a plain multiprocessing sha256 probe measures
~4.0x going 2 -> 8 processes (vs ~3.3x for 4->16 and ~2.3x for 8->32 — see
memory/BENCH notes), so 2->8 cores is the window where the VM itself grants
4x CPU and the measurement reflects the ENGINE, not the hypervisor.

Per config: reps replays inside each JVM (rep 1 warms JIT), best-of per JVM.
Config B throughput = total events / max(best apply across JVMs) — the
slowest executor bounds the cluster, exactly as a real stage does.
Correctness gate: sum of per-JVM final_rows == config A final_rows (the
shard split partitions the key space).

Writes BENCH/BASELINE.md (keeps the r1 single-JVM history as an appendix).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES_PER_EXEC = 2
N_EXECS_B = 4
HEAP = "6g"
N_SHARDS = 8


def _cmd(
    events: int,
    reps: int,
    workdir: str,
    subset: str | None,
    hot: float = 0.0,
    key_subset: str | None = None,
) -> list[str]:
    cmd = [
        sys.executable, "-m", "singer_tap_spark.job", "bench-replay",
        "--events", str(events), "--cpus", str(CORES_PER_EXEC),
        "--seed", "42", "--reps", str(reps), "--shards", str(N_SHARDS),
        # uniform conversations for the headline SCALING measurement: the
        # hot-conv fixture (10% of all events in one conversation) caps ANY
        # share-nothing 4-way split at ~0.77 by construction — a single hot
        # KEY is atomic under conv-keyed partitioning on a real cluster too,
        # but one Spark app's merge shuffle spreads all other keys over all
        # executors.  The dedicated SKEW session (SCALING_MODE=skew) runs
        # hot 0.1 with a key-hash split and reports the measured efficiency
        # NEXT TO that structural cap.
        "--hot-frac", str(hot),
        "--workdir", workdir,
    ]
    if subset:
        cmd += ["--shard-subset", subset]
    if key_subset:
        cmd += ["--key-subset", key_subset]
    return cmd


def _env() -> dict:
    return {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(CORES_PER_EXEC),
        "SPARK_DRIVER_MEMORY": HEAP,
        "PYTHONPATH": REPO,
    }


def _parse(out: subprocess.CompletedProcess | tuple[int, str, str]) -> dict:
    if isinstance(out, subprocess.CompletedProcess):
        rc, stdout, stderr = out.returncode, out.stdout, out.stderr
    else:
        rc, stdout, stderr = out
    if rc != 0:
        sys.stderr.write(stderr[-4000:])
        raise RuntimeError(f"bench-replay failed rc={rc}")
    return json.loads(stdout.strip().splitlines()[-1])


def run_config_a(events: int, reps: int, hot: float = 0.0) -> dict:
    pin = f"0-{CORES_PER_EXEC - 1}"
    out = subprocess.run(
        ["taskset", "-c", pin,
         *_cmd(events, reps, "/dev/shm/stsp_mj_a", None, hot=hot)],
        capture_output=True, text=True, env=_env(), cwd=REPO,
    )
    return _parse(out)


def run_config_b(
    events: int, reps: int, hot: float = 0.0, split: str = "shard"
) -> list[dict]:
    procs = []
    for i in range(N_EXECS_B):
        pin = f"{i * CORES_PER_EXEC}-{(i + 1) * CORES_PER_EXEC - 1}"
        sub = f"{i}:{N_EXECS_B}"
        p = subprocess.Popen(
            ["taskset", "-c", pin,
             *_cmd(events, reps, f"/dev/shm/stsp_mj_b{i}",
                   sub if split == "shard" else None, hot=hot,
                   key_subset=sub if split == "key" else None)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            env=_env(), cwd=REPO,
        )
        procs.append(p)
    results = []
    for p in procs:
        stdout, stderr = p.communicate()
        results.append(_parse((p.returncode, stdout, stderr)))
    return results


def _burn(n: int) -> int:
    import hashlib

    h = b"x"
    for _ in range(n):
        h = hashlib.sha256(h).digest()
    return 1


def hardware_envelope(n_a: int, n_b: int, work: int = 3_000_000, reps: int = 2) -> dict:
    """Host ceiling for plain processes going n_a -> n_b procs."""
    import multiprocessing as mp
    import time as _t

    out = {}
    for procs in (n_a, n_b):
        best = 1e9
        for _ in range(reps):
            t0 = _t.monotonic()
            with mp.Pool(procs) as p:
                p.map(_burn, [work] * procs)
            best = min(best, _t.monotonic() - t0)
        out[procs] = work * procs / best
    out["speedup"] = out[n_b] / out[n_a]
    return out


R1_HISTORY = """\
## Appendix: r1 single-JVM protocol history (bench/scaling.py, deleted)

One JVM grown local[4] -> local[16] (taskset-pinned, heap scaled), same
seeded 32M-event input; kept for comparability:

| session | code state | local[4] best ev/s | local[16] best ev/s | efficiency |
|---|---|---|---|---|
| 1 (disk, 32M, 3 reps) | pre-tuning | 354,077 | 1,068,751 | 0.755 |
| 2 (disk, 32M, 5 reps) | pre-tuning | 434,677 | 1,222,154 | 0.703 |
| 3 (tmpfs, 32M, 4 reps) | pre-tuning | 387,712 | 1,165,869 | 0.752 |
| 4 (tmpfs, 32M, 4 reps) | + khash sort prefix, AQE rebalance | 502,558 | 1,222,351 | 0.608 |

Reading: the 16-core single JVM saturates at ~1.22M ev/s in every session —
a single-process memory-bandwidth ceiling.  The r1 tuning made the 4-core
config 42% faster, moving it CLOSER to the shared ceiling and *lowering*
the measured ratio — the motivation for the multi-JVM protocol above, where
each added executor is a separate process, as on a real cluster.
"""


_SKEW_START = "<!-- SKEW-SECTION-START -->"
_SKEW_END = "<!-- SKEW-SECTION-END -->"


def _skew_md(skew_hist: list[dict]) -> str:
    if not skew_hist:
        return ""
    rows = "\n".join(
        f"| {h['unix']} | {h['events']:,} | {h['thr_N_hot']:,.0f} | "
        f"{h['thr_4N_hot']:,.0f} | **{h['efficiency']:.3f}** | "
        f"{h['structural_cap']:.3f} | {h['eff_vs_cap']:.3f} | "
        f"{h['single_app_skew_penalty']:.3f} |"
        for h in skew_hist
    )
    return f"""{_SKEW_START}
## Skewed-key session (hot_conv_frac = 0.1, key-hash split)

Same protocol, but 10% of ALL events land in one hot conversation and the
4 executors split on ``xxhash64(conv_id) % 4`` — the granularity a real
cluster's merge shuffle distributes on.  A single hot KEY is atomic under
conv-keyed partitioning on ANY system (its events must co-locate for the
merge), so the hot executor's share sets a STRUCTURAL cap:
cap = (total/4) / max-slice ≈ 0.77 at hot 0.1.  The honest read is
`efficiency / cap` — how much of the achievable scaling the engine
delivers — plus the single-app skew penalty (one JVM, hot 0.1 vs hot 0
throughput in the same session), which shows what the merge shuffle's
rebalancing absorbs when executors are NOT share-nothing-isolated:

| unix | events | thr N (hot) | thr 4N (hot) | efficiency | structural cap | eff / cap | single-app skew penalty |
|---|---|---|---|---|---|---|---|
{rows}

(single-app skew penalty = thr(1 JVM, hot 0.1) / thr(1 JVM, hot 0); a value
near 1.0 means one Spark app absorbs this skew almost entirely — the salted
changelog repartition + AQE skew handling at work — so the share-nothing cap
above is an artifact of JVM isolation, not an engine property.)
{_SKEW_END}"""


def _load_hist(path: str) -> list[dict]:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return []


def _splice_skew_into_doc(doc: str, skew_md: str) -> str:
    """Insert/replace the skew section, keeping it above the r1 appendix."""
    if _SKEW_START in doc:
        pre, rest = doc.split(_SKEW_START, 1)
        _, post = rest.split(_SKEW_END, 1)
        doc = pre + post
    if not skew_md:
        return doc
    anchor = "## Appendix: r1 single-JVM protocol history"
    if anchor in doc:
        pre, post = doc.split(anchor, 1)
        return pre + skew_md + "\n\n" + anchor + post
    return doc + "\n" + skew_md + "\n"


def run_skew_session() -> None:
    """One skewed-key scaling session (VERDICT r2 #6): measured efficiency
    reported against the structural share-nothing cap, plus the single-app
    skew penalty.  Appends to its OWN history file — never the uniform one
    (the uniform median is the headline number and must not mix fixtures).
    """
    events = int(os.environ.get("SCALING_EVENTS", "8000000"))
    reps = int(os.environ.get("SCALING_REPS", "3"))
    hot = 0.1

    a_uniform = run_config_a(events, reps, hot=0.0)
    a_hot = run_config_a(events, reps, hot=hot)
    print(f"config A hot={hot}: best {a_hot['events_per_sec']} ev/s "
          f"(uniform twin {a_uniform['events_per_sec']})", file=sys.stderr)
    b = run_config_b(events, reps, hot=hot, split="key")
    for i, r in enumerate(b):
        print(f"config B exec {i}: {r['events']} events, best "
              f"{r['apply_seconds']}s", file=sys.stderr)

    rows_b = sum(r["final_rows"] for r in b)
    assert rows_b == a_hot["final_rows"], (rows_b, a_hot["final_rows"])
    events_b = sum(r["events"] for r in b)
    assert events_b == a_hot["events"], (events_b, a_hot["events"])

    slowest = max(r["apply_seconds"] for r in b)
    thr_b = events_b / slowest
    thr_a = a_hot["events_per_sec"]
    eff = thr_b / thr_a / N_EXECS_B
    cap = (events_b / N_EXECS_B) / max(r["events"] for r in b)
    penalty = a_hot["events_per_sec"] / a_uniform["events_per_sec"]

    hist_path = os.path.join(REPO, "BENCH", "scaling_sessions_skew.json")
    history = _load_hist(hist_path)
    history.append({
        "unix": int(time.time()),
        "events": events,
        "reps": reps,
        "hot_conv_frac": hot,
        "split": "key-hash",
        "thr_N_hot": round(thr_a, 1),
        "thr_4N_hot": round(thr_b, 1),
        "efficiency": round(eff, 3),
        "structural_cap": round(cap, 3),
        "eff_vs_cap": round(eff / cap, 3),
        "single_app_skew_penalty": round(penalty, 3),
        "slice_events": [r["events"] for r in b],
    })
    with open(hist_path, "w") as f:
        json.dump(history, f, indent=2)

    doc_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(doc_path) as f:
        doc = f.read()
    with open(doc_path, "w") as f:
        f.write(_splice_skew_into_doc(doc, _skew_md(history)))
    print(json.dumps(history[-1]))


def main() -> None:
    if os.environ.get("SCALING_MODE", "uniform") == "skew":
        run_skew_session()
        return
    events = int(os.environ.get("SCALING_EVENTS", "8000000"))
    reps = int(os.environ.get("SCALING_REPS", "3"))

    a = run_config_a(events, reps)
    thr_a = a["events_per_sec"]
    print(f"config A: 1x local[{CORES_PER_EXEC}]: best {thr_a} ev/s; "
          f"runs {[x['apply_seconds'] for x in a['runs']]}", file=sys.stderr)

    b = run_config_b(events, reps)
    for i, r in enumerate(b):
        print(f"config B exec {i}: {r['events']} events, best "
              f"{r['apply_seconds']}s; runs "
              f"{[x['apply_seconds'] for x in r['runs']]}", file=sys.stderr)

    # correctness: the shard split partitions the table exactly
    rows_b = sum(r["final_rows"] for r in b)
    assert rows_b == a["final_rows"], (
        f"shard-split final state diverged: {rows_b} vs {a['final_rows']}"
    )
    events_b = sum(r["events"] for r in b)
    assert events_b == a["events"], (events_b, a["events"])

    slowest = max(r["apply_seconds"] for r in b)
    thr_b = events_b / slowest
    eff = thr_b / thr_a / N_EXECS_B

    env = hardware_envelope(1 * CORES_PER_EXEC, N_EXECS_B * CORES_PER_EXEC)
    env_eff = env["speedup"] / N_EXECS_B

    # session history: every full protocol run is appended and rendered —
    # single-session numbers on this noisy host swing +/-20%, so the doc
    # shows them ALL, not a favourable pick
    hist_path = os.path.join(REPO, "BENCH", "scaling_sessions.json")
    history: list[dict] = []
    if os.path.exists(hist_path):
        with open(hist_path) as f:
            history = json.load(f)
    history.append({
        "unix": int(time.time()),
        "events": events,
        "reps": reps,
        "thr_N": round(thr_a, 1),
        "thr_4N": round(thr_b, 1),
        "efficiency": round(eff, 3),
        "envelope_speedup": round(env["speedup"], 2),
    })
    with open(hist_path, "w") as f:
        json.dump(history, f, indent=2)
    hist_rows = "\n".join(
        f"| {h['unix']} | {h['events']:,} | {h['reps']} | {h['thr_N']:,.0f} | "
        f"{h['thr_4N']:,.0f} | **{h['efficiency']:.3f}** | {h['envelope_speedup']:.2f}x |"
        for h in history
    )
    effs = sorted(h["efficiency"] for h in history)
    med_eff = effs[len(effs) // 2] if len(effs) % 2 else (
        effs[len(effs) // 2 - 1] + effs[len(effs) // 2]
    ) / 2

    doc = f"""# BENCH/BASELINE — throughput + N-vs-4N scaling evidence

## Protocol: multi-JVM executor analogue (r2; endorsed by the r1 review)

Same deterministic job ({events:,} change events, seed 42, {N_SHARDS} shards,
30% updates / 5% deletes / 2% exact-dup replays; UNIFORM conversations —
the hot-conv fixture would hand one shard ~32% of the input, capping any
4-way share-nothing split at 3.1x by construction, an artifact of JVM
isolation that one Spark app's merge shuffle does not have; skew handling
is measured in bench.py and the skew tests); final table state asserted
identical across configs
(final_rows = {a['final_rows']:,}; the 4-executor split's per-slice tables
sum to exactly the 1-executor table — conversations are shard-local, so the
shard split partitions the key space like bucketed executors on a cluster).

| config | executors | per-executor | pinned cpus | heap/exec | work split |
|---|---|---|---|---|---|
| A (N)  | 1 JVM  | local[{CORES_PER_EXEC}] | 0-{CORES_PER_EXEC-1} | {HEAP} | all {N_SHARDS} shards |
| B (4N) | {N_EXECS_B} JVMs | local[{CORES_PER_EXEC}] | 2 cpus each, disjoint | {HEAP} | shard_idx % 4 == i |

Why 2->8 cores: the host is an oversubscribed VM; a plain multiprocessing
sha256 probe grants ~4.0x for 2->8 processes but only ~3.3x for 4->16 and
~2.3x for 8->32 — 2->8 is the window where the hardware itself honors 4x,
so the measurement reflects the engine.  Each JVM replays {reps}x (rep 1
warms JIT), best-of per JVM; config B throughput = total events / slowest
executor's best (the slowest executor bounds a stage, as on a real cluster).

Sink path: **parquet-cow** (ParquetLakeTable, the only sink; an Iceberg
MERGE INTO sink waits on an iceberg-spark-runtime jar).

## Results

| config | events applied | events/sec | apply seconds (all reps) |
|---|---|---|---|
| A: 1 exec (N) | {a['events']:,} | {thr_a:,.0f} | {[x['apply_seconds'] for x in a['runs']]} |
| B: {N_EXECS_B} execs (4N) | {events_b:,} | {thr_b:,.0f} | per-exec best: {[r['apply_seconds'] for r in b]} |

**Scaling efficiency (N -> 4N) = (thr_4N / thr_N) / 4 = {eff:.3f}**
(target >= 0.8 per BASELINE.json)

Hardware envelope measured in the same session (plain multiprocessing
sha256, {CORES_PER_EXEC} -> {N_EXECS_B*CORES_PER_EXEC} procs):
**{env['speedup']:.2f}x** of ideal 4.0x (= {env_eff:.2f} efficiency ceiling
for ANY software on this box in this window).

## Session history (every full protocol run this round — no cherry-picking)

Single-session numbers on this shared host swing ±20% with neighbor load
(visible in the envelope column); the table shows every run:

| unix | events | reps | thr N | thr 4N | efficiency | envelope |
|---|---|---|---|---|---|---|
{hist_rows}

**Median efficiency across sessions: {med_eff:.3f}**

## Per-executor runs (config B)

```json
{json.dumps(b, indent=2)}
```

## Config A runs

```json
{json.dumps(a, indent=2)}
```

{R1_HISTORY}

Generated by bench/scaling_multijvm.py at unix {int(time.time())}.
"""
    # a skew-session table (SCALING_MODE=skew) lives between markers and is
    # re-spliced into every regeneration so uniform runs never drop it
    skew_hist = _load_hist(os.path.join(REPO, "BENCH", "scaling_sessions_skew.json"))
    doc = _splice_skew_into_doc(doc, _skew_md(skew_hist))
    out_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        f.write(doc)
    print(json.dumps({
        "thr_N": thr_a,
        "thr_4N": round(thr_b, 1),
        "efficiency": round(eff, 3),
        "hardware_envelope_speedup": round(env["speedup"], 2),
        "envelope_efficiency": round(env_eff, 2),
    }))


if __name__ == "__main__":
    main()
