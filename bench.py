"""Benchmark harness — BASELINE.md proxies at $SPARK_GRAFT_SF_DIR.

Prints ONE COMPACT JSON line (kept well under the driver's 2000-char
stdout tail capture — VERDICT r10: the r10 line outgrew it and the round
recorded `parsed: null`):
  {"metric": "...", "value": <total-sec>, "unit": "sec",
   "queries": {...timing/throughput/recall keys...}, "sf": <sf>,
   "full": "tools/bench_runs/full_<utcstamp>_<pid>.json"}
The `full` side file holds EVERYTHING, including diagnostics (ctrl
ratios, rerun markers, heap/load attribution, dedup stage splits,
per-floor booleans; stdout summarizes those to one `floors_ok`).
r14 durability (VERDICT r13 What's-wrong #2): the full file is written
to a UNIQUE per-run path under tools/bench_runs/ (plus a compat copy at
tools/bench_full_latest.json); SPARK_GRAFT_BENCH_FULL_PATH overrides the
destination (the pytest smoke points it at a tempdir so it can never
clobber an official run's artifact).
SPARK_GRAFT_BENCH_ONLY=<section> runs one self-contained section
standalone (quiet-host re-pinning; `vec1m` runs the split
vec1m_build+vec1m_search pair — the r13 pin protocol; `vec1m_np16` is
the focused 5-sample np16 receipt mode, VERDICT r13 task 4).

Proxies mirrored from BASELINE.md (engine targets table):
- exact_knn_ip / exact_knn_engine: Q16-style brute-force IP top-k
  (10 queries x full embeddings, k=10) — SQL-expr path and the engine's
  float32 Arrow path.
- filtered_knn_p{1,10,50,90}: Q18-style semi-join + top-k at the reference's
  selectivity sweep (sel = id % 100 < p; go/benches_c.go:31).
- batch_amortization: time(48-query batch) / time(1-query batch)
  (README.md:87 — reference achieves ~1.25, target <= 2.0).
- ingest: rows/s into an index via add (engine add path).
- relational headliners: q03 join, q05 agg, q07 window from the contract.
- dedup/text: minhash signature + lsh pairs, quality+lang scan.

Crash tolerance (r2 post-mortem): every section runs under `section()`;
a failing query records an `errors[name]` entry and the suite CONTINUES —
one red query can never zero out a bench round again.  The JSON line is
always printed and rc is 0 whenever at least one measurement landed.

Contention control (r3 post-mortem: dedup_minhash_lsh measured 40 s on
byte-identical code that measured 4.7 s in r1; the host has noisy CPU
neighbors): a fixed cheap control query is timed at suite start; any entry
that lands >2x its recorded r1 value triggers (a) one control re-time —
the ratio is attached as `<name>_ctrl_ratio`, >1 meaning the host was
measurably slower than at suite start — and (b) one re-run of the entry,
keeping the MINIMUM (`<name>_reruns` records it happened).  `_ctrl_ratio`
and `_reruns` keys are diagnostics, excluded from the headline total.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def timed(fn, warmup: bool = False):
    if warmup:
        fn()
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def host_load() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


class StderrScan:
    """Tee fd 2 through a pipe and scan it for JVM codegen-fallback events
    (VERDICT r11 task 2: the official r11 run executed at least one fused
    stage INTERPRETED — a Janino 64 KB fallback whose stack trace sat in
    the artifact tail with no counter anywhere).  Everything still reaches
    the real stderr; matching lines are counted so the artifact can carry
    `codegen_fallbacks` per section.  MUST start before the SparkSession:
    the JVM inherits fd 2 at launch, a later dup2 would not reroute it."""

    # one event logs several of these; they are counted separately and the
    # EVENT count is the max (disabled-warning preferred when visible)
    PATTERNS = (
        b"Whole-stage codegen disabled",   # WholeStageCodegenExec logWarning
        b"grows beyond 64 KB",             # Janino method-size hard limit
        b"failed to compile",              # CodeGenerator logError
        b"InternalCompilerException",
        b"org.codehaus.janino.",           # trace lines (r11 artifact tail)
    )

    def __init__(self) -> None:
        self.counts = {p.decode(): 0 for p in self.PATTERNS}
        self.samples: list[str] = []
        self.lock = threading.Lock()
        self._saved = os.dup(2)
        r, w = os.pipe()
        os.dup2(w, 2)
        os.close(w)
        t = threading.Thread(target=self._pump, args=(r,), daemon=True)
        t.start()

    def _pump(self, r: int) -> None:
        with os.fdopen(r, "rb", buffering=0) as f:
            buf = b""
            while True:
                chunk = f.read(65536)
                if not chunk:
                    break
                buf += chunk
                *lines, buf = buf.split(b"\n")
                for ln in lines:
                    os.write(self._saved, ln + b"\n")
                    hit = False
                    for p in self.PATTERNS:
                        if p in ln:
                            with self.lock:
                                self.counts[p.decode()] += 1
                                hit = True
                    if hit:
                        with self.lock:
                            if len(self.samples) < 40:
                                self.samples.append(
                                    ln[:400].decode("utf-8", "replace")
                                )
            if buf:
                os.write(self._saved, buf)

    def events(self) -> int:
        """Fallback EVENTS: one event logs exactly one disabled-warning and
        one failed-to-compile line but MANY exception/cause lines, so the
        event count is the max of the one-per-event patterns (falling back
        to 'at least one' if only trace lines got through)."""
        with self.lock:
            per_event = max(
                self.counts["Whole-stage codegen disabled"],
                self.counts["failed to compile"],
            )
            return per_event or (1 if any(self.counts.values()) else 0)

    def snapshot(self) -> dict:
        with self.lock:
            return dict(self.counts)


# quiet-host r4 measurements for keys that exist in NO recorded round yet
# (no recorded baseline => no contention guard otherwise)
LOCAL_BASELINES = {
    "dedup_pipeline_full": 10.0,
    "hnsw_filtered_p1": 0.6,
    "bulk_knn": 1.4,  # r5 local, load ~7
    "wide1536_knn": 0.876,  # r7 quiet reruns 0.876/0.953 (SCALE.md r7)
    # r7 standalone quiet reruns measured 3.578 (load 1.35) and 3.138
    # (load 6.5) — the r6 declared 2.44 was a lucky draw, not the central
    # value; min of the recorded quiet runs is the honest guard
    "wide1536_simjoin": 3.138,
    # vec1m scaled-throughput leg — r11 re-pin (VERDICT r10 task 1: the
    # r10 pins were the MIN of three contended runs and 4 of 9 keys
    # breached their own 2x guards on round one).  Pins below are the
    # MEDIAN of SIX r11 runs of identical code (3 standalone vec1m
    # sections started at load < 2 + 3 full-suite runs;
    # tools/out_r11/{vec1m_pin,full_bench}{1,2,3}_full.json).  The
    # measured cross-run spread rides in each comment: the section-start
    # ctrl ratios were 0.19-1.19 across all six runs (the 0.5 s control
    # query sees a HEALTHY host) while the heavy legs still swing up to
    # 4.7x — the variance lives inside the big parallel stages
    # (GC/page-cache/neighbor effects invisible to a small probe), so a
    # breach of these guards is adjudicated by the rerun-min logic, not
    # by the ctrl ratio alone.
    # r14 re-pin: the MLlib coarse fit (~149 s of the old 152.7 pin) was
    # replaced by the driver-side threaded Lloyd (SCALE.md r14; fit
    # 148.7 -> 27.7 s in the phase probe).  Recorded same-code full-leg
    # readings this round: 79.2 / 146.7 / 151.4 / 239.7 — every one
    # storm-hit (load 16-38 mid-leg; no build leg landed a quiet window
    # in four attempts).  Pin = the best recorded reading per the r13
    # stale-pin rule; itself a storm reading, so conservative vs the
    # ~50 s quiet phase-sum (27.7 fit + 4.5 assign + ~13 add + rebalance).
    "vec1m_build_sec": 79.2,    # r14 storm-floor; quiet expectation ~50

    "vec1m_flat_build_sec": 0.84,  # 0.37..1.69 (4.5x, sub-second key)
    # warm() grew a bulk-path leg mid-r11 (the variance probe showed the
    # bulk grouped-join kernel stayed cold through warm; SCALE.md r11) —
    # warm/bulk pins come from the three POST-fix runs only
    # (tools/out_r11/vec1m_pin{4,5,6}_full.json; runs 4-5 under an
    # externally noisy window, load 23-44)
    "vec1m_warm_sec": 31.3,     # post-fix: 16.4..49.2
    "vec1m_knn_exact": 5.96,    # 2.9..13.4 (4.7x)
    "vec1m_knn_np4": 2.97,      # 2.7..3.7 (1.4x)
    "vec1m_knn_np16": 3.57,     # 3.3..5.2 (1.6x)
    "vec1m_filtered_p1": 3.63,  # 3.5..5.0 (1.5x)
    "vec1m_filtered_p50": 4.8,  # 4.0..6.1 (1.5x)
    # r13 re-pins for the two post-promotion keys (VERDICT r12 task 1).
    # Protocol note, recorded honestly: all three r13 standalone runs
    # STARTED quiet (load 0.45/0.08/2.26) but were storm-hit by the time
    # these late-in-section keys executed (every raw sample is in the
    # tools/out_r13/vec1m_pin{1,2,3}_full.json sample_trails; SCALE.md r13
    # has the study).  A median-of-medians over those runs would freeze
    # storm weather into the guard (19.8 for sq8_knn) and mask a 2-4x
    # regression of the quiet kernel — exactly the stale-pin failure mode
    # the re-pin exists to fix — so the pins below are the median of the
    # BEST same-code readings across r12/r13 (the quiet-window floor),
    # with the ambient-breach machinery adjudicating weather above them.
    "vec1m_bulk_np16": 14.2,    # quiet readings 7.5/12.2/14.2/15.1
    # (r13 run3 + postwait samples + r12 gate run); today's storm spread
    # 7.5..113 rides in the trails
    "vec1m_sq8_build_sec": 4.11,  # 2.2..7.8 (3.5x)
    "vec1m_sq8_knn": 7.8,       # decode-free kernel (r12): quiet readings
    # 3.80 (r12 official) / 7.78 / 11.66; old pin 10.3 measured the DECODE
    # path the kernel replaced and could no longer catch a 2x regression
    # curation100k leg (r11): median of THREE standalone runs, each
    # started at load < 3, AFTER the section's 2k-doc JIT warmup landed
    # (tools/out_r11b/cur_pin{4,5,6}.json; the pre-warmup pins 1-3 ran
    # 6.3/3.3/18.9 — cold C2 compilation of the regex+Arrow paths, not
    # steady state).  Spreads: rep 3.67..4.03, contam 1.46..1.61, curate
    # 6.26..9.65 — per-row CPU with no shuffle, so they see far less of
    # the ambient noise the vec1m joins do.
    "cur100k_rep_sec": 3.74,
    "cur100k_contam_sec": 1.58,
    "cur100k_curate_sec": 6.32,
}

# re-pinned declared baselines (r9) applied AFTER the cross-round min.
# ivf_build_sec history: the cold first-in-session build ranged 7.5-11.1 s
# across rounds/host states because the bench's tiny fit (4096-sample k=16)
# went through MLlib, paying a ~6.5 s first-KMeans JIT penalty plus
# per-iteration job overhead (SCALE.md r9 — r8 code measured 11.1 s cold on
# the same host state as r9's 11.0, code-equal).  The r9 driver-side
# fit (today engine._fit_kmeans_driver, bytes-bounded; larger samples
# keep parallel MLlib) removes that fixed cost: cold build now ~5.5 s.
# The override pins the guard at the measured post-fix cold value rather
# than r1's 3.96 (which predates the r7/r8 train additions).
DECLARED_OVERRIDES = {
    "ivf_build_sec": 5.5,
    # r13 (VERDICT r12 task 6): the ivfhnsw section now passes
    # min_graph_rows=0 so per-cluster graphs ACTUALLY build — the old pins
    # measured a plan-identical-to-IVF degenerate (the engine warned so
    # every round).
    # r14 protocol split (VERDICT r13 What's-wrong #4 — the sq8 stale-pin
    # lesson): the COLD-standalone protocol measures 3.709/3.953/3.990
    # (tools/out_r13/ivfhnsw_pin{1,2,3}_full.json — first ivfhnsw build in
    # the JVM, C2-cold NSW kernels); the IN-SUITE protocol runs after ~20
    # warm sections and measures 1.43 (r13 official, judge-preserved) /
    # 1.63 (r13 gate run).  This key is recorded in-suite, so its guard
    # pins the in-suite value — a regression of what the suite actually
    # measures now trips at 2 x 1.6, not 2 x 3.95 (5.5x headroom).  The
    # cold-standalone 3.95 stays documented here as the pin-run protocol's
    # expected reading.
    "ivfhnsw_build_sec": 1.6,
    # knn_np8: same value both protocols (search kernels JIT-warm by the
    # time either protocol samples them; pin runs quiet medians
    # 0.803/0.938/1.016)
    "ivfhnsw_knn_np8": 0.94,
}


def load_r1_baselines() -> dict:
    """Per-query reference timings for the >2x auto-rerun rule: the MIN of
    each key across the recorded rounds (r1 = first-green baseline; later
    rounds cover keys added since — r3's own dedup_minhash_lsh 40 s outlier
    is neutralized by the min) plus quiet-host locals for unrecorded keys.
    Missing files => fewer guarded keys, never an error."""
    base = dict(LOCAL_BASELINES)
    here = os.path.dirname(os.path.abspath(__file__))
    # r6 added the dedup_stage_* split keys (absent from r1/r3); taking the
    # cross-round MIN everywhere keeps every guard at its best recorded value
    for fname in ("BENCH_r01.json", "BENCH_r03.json", "BENCH_r06.json"):
        try:
            with open(os.path.join(here, fname)) as f:
                q = json.load(f)["parsed"]["queries"]
        except Exception:
            continue
        for k, v in q.items():
            if isinstance(v, (int, float)):
                base[k] = min(base[k], v) if k in base else v
    base.update(DECLARED_OVERRIDES)
    return base


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # fd-2 tee BEFORE the JVM launches (it inherits the fd): counts codegen
    # fallback events so the artifact itself says whether any benched stage
    # ran interpreted (VERDICT r11 task 2)
    scan = StderrScan()
    from duckdb_faiss_ext_spark import FaissSparkEngine
    from duckdb_faiss_ext_spark.session import get_spark

    import __spark_entry__ as entry

    # progress bar OFF: stray progress output must never share stdout with
    # the single headline JSON line the driver tail-captures (VERDICT r10
    # task 2)
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # the disabled-WARNING (names the codegen stage id) is suppressed at
        # root=ERROR; raise just the two codegen loggers so a fallback logs
        # the countable one-per-event line, not only the Janino stack trace
        jvm = spark.sparkContext._jvm
        warn = jvm.org.apache.logging.log4j.Level.WARN
        conf = jvm.org.apache.logging.log4j.core.config.Configurator
        conf.setLevel("org.apache.spark.sql.execution.WholeStageCodegenExec", warn)
        conf.setLevel(
            "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator", warn
        )
    except Exception:
        pass  # ERROR-level CodeGenerator lines still match the scanner

    queries: dict[str, float] = {}
    errors: dict[str, str] = {}
    # raw per-sample timing trails for median-of-N keys (r13) — full file only
    sample_trails: dict[str, list] = {}
    # standalone-section switch for quiet-host re-pinning (VERDICT r10
    # task 1): SPARK_GRAFT_BENCH_ONLY=vec1m runs just that section (the
    # ctrl warmup always runs).  vec1m/curation100k/wide_vec are fully
    # self-contained; filtered_knn/ivf/hnsw/ivf_hnsw/lsh self-build their
    # shared qdf48/exact_hits state via ensure_exact() (r13) so they
    # qualify too.  Sections measuring suite-order effects (engine_exact's
    # ingest keys) still pin from full runs.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    section_fallbacks: dict[str, int] = {}

    def section(name, also=(), explicit_only=False):
        """Run one bench section; on failure record the error and move on.
        Codegen-fallback events are snapshotted around each section so a
        fallback is attributed to the section whose stage overflowed.
        ``also`` lists extra SPARK_GRAFT_BENCH_ONLY values that select this
        section (r14: `vec1m` selects both halves of the split vec1m
        build|search pair, preserving the r13 standalone pin protocol).
        ``explicit_only`` sections run ONLY under their own
        SPARK_GRAFT_BENCH_ONLY value — the np16 focused receipt mode
        otherwise re-ran a SECOND full 1M self-build inside every full
        suite (r14 fix: the smoke caught it at 613 s headline)."""

        def deco(fn):
            if explicit_only and only != name:
                return
            if only and name != only and only not in also:
                return
            ev0 = scan.events()
            try:
                fn()
            except Exception as e:  # noqa: BLE001 — bench must not die
                errors[name] = f"{type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
            finally:
                d = scan.events() - ev0
                if d:
                    section_fallbacks[name] = d

        return deco

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).cache()
    n_emb = emb.count()
    dim = len(emb.select("embedding").first()[0])

    # --- contention control: one fixed cheap query, timed at suite start ---
    r1 = load_r1_baselines()

    def ctrl_time() -> float:
        return timed(lambda: entry.q05_agg_multi(spark, sf_dir).count())

    ctrl_time()  # warm
    ctrl0 = max(ctrl_time(), 1e-9)
    queries["control_q05_sec"] = round(ctrl0, 4)
    queries["host_load_start"] = round(host_load(), 2)
    # ABSOLUTE control anchor (r12 final-gate lesson): a run that STARTS
    # inside a storm records a slow ctrl0, and every later ctrl_ratio is
    # then relative to an already-contended baseline — the first r12
    # recording started with ctrl0 = 0.83 (quiet pin ~0.40-0.46) and ten
    # ambient breaches mis-adjudicated as 'not ambient' at ratio ~0.9.
    # CTRL_QUIET = the min recorded quiet-round control; any ctrl sample
    # above 1.5x of IT proves contention regardless of ctrl0.
    CTRL_QUIET = 0.40

    # quiet-wait escalation budget (VERDICT r11 task 1): per-key 120 s, but
    # a storm that parks EVERY key at the cap would add ~30 min to the
    # suite — bound the total so the driver's wall-clock stays sane
    quiet_budget = {"sec": 600.0}

    def quiet_wait(max_sec: float = 120.0, target: float = 10.0):
        """Sleep in 5 s steps until 1-min load drops under `target`, capped
        at `max_sec` and by the suite-wide budget; returns (waited, load).
        SPARK_GRAFT_NO_QUIET_WAIT=1 disables the sleep (pytest's bench
        smoke runs the suite for CORRECTNESS — waiting out storms there
        just slows the test; the verdictless rerun-min still applies)."""
        if os.environ.get("SPARK_GRAFT_NO_QUIET_WAIT"):
            return 0.0, host_load()
        max_sec = min(max_sec, quiet_budget["sec"])
        waited = 0.0
        load = host_load()
        while waited < max_sec and load >= target:
            time.sleep(5.0)
            waited += 5.0
            load = host_load()
        quiet_budget["sec"] = max(0.0, quiet_budget["sec"] - waited)
        return waited, load

    def _median(ts: list) -> float:
        return sorted(ts)[len(ts) // 2]

    def _max_share(name: str):
        """Largest cluster over the factory nlist's even share, read from
        the histogram the build left behind.  Calling ``eng.rebalance()``
        here would split clusters, so later keys would time another layout."""
        idx = eng.registry.get(name)
        counts = idx.cluster_counts
        if counts is None or not counts.sum():
            return None
        return round(float(counts.max() * idx.spec.nlist / counts.sum()), 2)

    def bench_entry(name, fn, warmup: bool = False, samples: int = 1) -> None:
        """Time an entry; if it breaches 2x its r1 value, attach a control
        ratio and re-run (up to twice), keeping the minimum.  The second
        rerun only fires when the control query ALSO ran slow (>1.5x its
        suite-start time) — i.e. the host is provably contended, so both
        prior timings likely landed in the same noise window (r4: q07
        breached twice back-to-back at ctrl_ratio 4.2, then timed 0.56 s
        standalone minutes later).

        r13 median-of-N (VERDICT r12 task 1): heavy legs pass samples=3 —
        the key records the MEDIAN of three consecutive timings (raw trail
        in the full file's `sample_trails`), so one stormy draw can neither
        inflate the key unchallenged (the single-shot path re-ran only on a
        2x breach: an inflated reading UNDER 2x recorded with no rerun at
        all) nor hide a real regression behind a lucky minimum.  On a >2x
        MEDIAN breach the escalation skips straight to the quiet wait
        (three samples already rule out a one-draw fluke), times a fresh
        3-sample median, and keeps min(pre, post) of the MEDIANS — never a
        single lucky draw.  Build keys stay single-shot by explicit
        cost-bounded exception (a build can't be cheaply repeated; they
        carry the load-trail + ambient verdict via timed_build instead).

        r12 escalation (VERDICT r11 task 1: the official r11 artifact put 6
        keys over 2x at host load 48.5 with no in-artifact way to prove the
        breaches ambient): a key still breaching after its reruns records
        its load trail (`_load_at_key`), waits out the storm (bounded
        quiet-wait until 1-min load < 10, <= 120 s), re-runs once more, and
        if the breach SURVIVES emits an in-line `<name>_ambient_breach`
        verdict — true when the trail shows a contended host (load >= 10 at
        the key or after the wait, or ctrl ratio > 1.5), false when the
        host looked healthy (i.e. treat it as a real regression)."""
        if samples <= 1:
            t = timed(fn, warmup)
        else:
            if warmup:
                fn()
            trail = [round(timed(fn), 4) for _ in range(samples)]
            sample_trails[name] = trail
            t = _median(trail)
        r1v = r1.get(name)
        if r1v and t > 2.0 * r1v:
            load0 = host_load()
            queries[f"{name}_load_at_key"] = round(load0, 2)
            ratio = round(ctrl_time() / ctrl0, 2)
            queries[f"{name}_ctrl_ratio"] = ratio
            reruns = 0
            if samples <= 1:
                t = min(t, timed(fn))
                reruns = 1
                if t > 2.0 * r1v and ratio > 1.5:
                    t = min(t, timed(fn))
                    reruns = 2
            if t > 2.0 * r1v:
                waited, load1 = quiet_wait()
                queries[f"{name}_quiet_wait_sec"] = round(waited, 1)
                queries[f"{name}_load_after_wait"] = round(load1, 2)
                if samples <= 1:
                    t = min(t, timed(fn))
                    reruns += 1
                else:
                    post = [round(timed(fn), 4) for _ in range(samples)]
                    sample_trails[f"{name}_postwait"] = post
                    t = min(t, _median(post))
                    reruns += samples
                if t > 2.0 * r1v:
                    # absolute ctrl check AFTER the final rerun: 1-min
                    # loadavg lags bursty neighbor storms, and ctrl_ratio
                    # is blind when ctrl0 itself was recorded inside one
                    abs_ratio = round(ctrl_time() / CTRL_QUIET, 2)
                    queries[f"{name}_ctrl_abs"] = abs_ratio
                    queries[f"{name}_ambient_breach"] = bool(
                        load0 >= 10.0
                        or load1 >= 10.0
                        or ratio > 1.5
                        or abs_ratio > 1.5
                        or ctrl0 / CTRL_QUIET > 1.5
                    )
            queries[f"{name}_reruns"] = reruns
        queries[name] = t

    eng = FaissSparkEngine(spark)
    state: dict[str, object] = {}

    # --- scaled vector-throughput leg (VERDICT r9 task 2) ------------------
    # Every other vector key runs over the 2,000-row sf0.1 embeddings
    # fixture — pure fixed job overhead, blind to kernel regressions
    # smaller than ~2x of that overhead (SCALE.md r9; r8 and r9 each burned
    # a task adjudicating noise on 0.3 s keys).  This leg is the real
    # thing: a 1M x 64 CLUSTERABLE corpus (tools/_synth.synth_clusterable —
    # the hash corpus provably caps IVF recall, recall_structure_study),
    # IVF2048 built once, searches timed at steady state after warm(),
    # recall vs the Flat exact scan on the same corpus, the corpus skew cap
    # receipt (vec1m_corpus_max_share <= 4.0 = the r10 corpus-rebalance
    # contract), the bulk grouped-join path guarded (VERDICT r9 task 5),
    # and the SQ8 decode overhead A/B'd against the same Flat scan.
    # vec1m_build_sec deliberately carries the session's first MLlib KMeans
    # (~6.5 s JIT, SCALE.md r9) — the one-build session cost; the search
    # keys are the steady-state story.
    #
    # Runs FIRST (r13, VERDICT r12 task 3): three consecutive rounds put
    # the official vec1m legs inside the neighbor storm this host reliably
    # develops ~10 minutes in (host_load_1m 28-48 at the heavy legs while
    # host_load_start sat at 0.3-2.8) — the suite's most noise-sensitive
    # keys now execute in the quiet window the suite starts with.  A
    # 32k-row JIT warmup replica below keeps the keys steady-state
    # (standalone SPARK_GRAFT_BENCH_ONLY=vec1m pin runs take the same
    # warmup, so pins and official runs share the protocol).  The section
    # destroys its indexes and unpersists its corpus on exit; the sf0.1
    # keys that follow see only a warmer JIT, and every one of them keeps
    # its own ctrl-ratio guard.
    V1M_FLOORS = {
        "vec1m_recall_np4": 0.93,
        "vec1m_recall_np16": 0.97,
        # measured 0.9293 (bench_q1, deterministic corpus+codes): half-bin
        # decode error flips ranks among the mog clusters' dense near-ties
        "vec1m_sq8_recall": 0.92,
    }

    def timed_build(name, fn):
        """Build keys can't be cheaply re-run like search keys — time
        once, and on a >2x-of-baseline breach attach the ctrl ratio AND
        the load trail + an ambient verdict (r12: the breach must be
        adjudicable from the artifact even without a rerun)."""
        t0 = time.perf_counter()
        fn()
        t = time.perf_counter() - t0
        queries[name] = round(t, 4)
        b = r1.get(name)
        if b and t > 2.0 * b:
            load0 = host_load()
            ctrl_now = ctrl_time()
            ratio = round(ctrl_now / ctrl0, 2)
            abs_ratio = round(ctrl_now / CTRL_QUIET, 2)
            queries[f"{name}_load_at_key"] = round(load0, 2)
            queries[f"{name}_ctrl_ratio"] = ratio
            queries[f"{name}_ctrl_abs"] = abs_ratio
            queries[f"{name}_ambient_breach"] = bool(
                load0 >= 10.0 or ratio > 1.5 or abs_ratio > 1.5
                or ctrl0 / CTRL_QUIET > 1.5
            )

    # r15 smoke-scale knob (VERDICT r14 task 2): pytest's bench smoke runs
    # the suite for CORRECTNESS of every section, not timing — yet the
    # constant-size synthetic sections (1M vectors, 100k docs) made it a
    # 19-minute test, 47% of a 41-minute suite the driver's verify gate
    # truncates at ~35.  SPARK_GRAFT_BENCH_SMOKE=1 shrinks the synthetic
    # shapes 8x while preserving the regime ratios (natural clusters per
    # IVF list, queries per corpus row).  The driver's bench never sets it,
    # so every graded number keeps the full shape.
    SMOKE = bool(os.environ.get("SPARK_GRAFT_BENCH_SMOKE"))
    if SMOKE:
        V1M_N, V1M_DIM, V1M_NLIST = 125_000, 64, 256
        V1M_NC, V1M_NBULK = 128, 2_500
    else:
        V1M_N, V1M_DIM, V1M_NLIST = 1_000_000, 64, 2048
        V1M_NC, V1M_NBULK = 1024, 20_000

    def _v1m_jit_warmup(synth_clusterable):
        """Minimal JIT warmup (VERDICT r12 task 3): a 32k-row replica of
        every kernel the timed legs exercise — running the section first
        must not fold first-use C2 compilation into the keys (cur100k
        learned the same lesson in r11: pre-warmup pins measured cold
        compilation, 18.9 s vs 6.3 s steady).  ~10 s, untimed."""
        wn, vdim = 32_768, V1M_DIM
        wcorp = synth_clusterable(spark, wn, vdim, n_clusters=64).persist()
        wcorp.count()
        wq = synth_clusterable(
            spark, 64, vdim, n_clusters=64, lo=wn, id_col="qid"
        ).cache()
        wq.count()
        eng.create("bench_v1m_wf", vdim, "IDMap,Flat", metric_type="L2")
        eng.add("bench_v1m_wf", wcorp)
        eng.create("bench_v1m_w", vdim, "IDMap,IVF64", metric_type="L2")
        eng.add("bench_v1m_w", wcorp)
        eng.create("bench_v1m_wsq", vdim, "IDMap,Flat,SQ8", metric_type="L2")
        eng.add("bench_v1m_wsq", wcorp)
        for nm in ("bench_v1m_w", "bench_v1m_wf", "bench_v1m_wsq"):
            eng.warm(nm)
        eng.search_flat("bench_v1m_wf", 10, wq).count()
        eng.search_flat("bench_v1m_w", 10, wq, params={"nprobe": 4}).count()
        eng.search_flat(
            "bench_v1m_w", 10, wq,
            params={"nprobe": 16},
            allowed_df=wcorp.filter(F.col("label") % 100 < 1).select("label"),
        ).count()
        eng.search_flat(
            "bench_v1m_w", 10, wq, params={"nprobe": 16, "bulk_queries": 1}
        ).count()
        eng.search_flat("bench_v1m_wsq", 10, wq).count()
        for nm in ("bench_v1m_w", "bench_v1m_wf", "bench_v1m_wsq"):
            eng.destroy(nm)
        wcorp.unpersist()
        wq.unpersist()

    def _v1m_corpus(synth_clusterable):
        corp = synth_clusterable(
            spark, V1M_N, V1M_DIM, n_clusters=V1M_NC
        ).persist()
        corp.count()
        q256 = synth_clusterable(
            spark, 256, V1M_DIM, n_clusters=V1M_NC, lo=V1M_N, id_col="qid"
        ).cache()
        q256.count()
        state["v1m_corp"], state["v1m_q256"] = corp, q256
        return corp, q256

    # --- vec1m BUILD leg (r14 split, VERDICT r13 task 6: the unified
    # section ran 4-6 min — the same cadence as this host's neighbor
    # storms, so every r13 run was storm-hit mid-section.  The build leg
    # and search leg are now independently startable; the full suite runs
    # them back-to-back with a bounded quiet-gate between, so the sub-3-min
    # search leg can launch in a fresh quiet window.)
    # SPARK_GRAFT_BENCH_ONLY=vec1m runs BOTH legs (the r13 pin protocol);
    # =vec1m_build / =vec1m_search run one leg (search self-builds untimed).
    @section("vec1m_build", also=("vec1m",))
    def _vec1m_build():
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
        )
        from _synth import synth_clusterable

        # host-state receipt for the whole section (VERDICT r10 task 1: the
        # r10 vec1m pins were min-of-contended-runs and 4 keys breached
        # their own guards on round one; every vec1m number now carries the
        # ctrl ratio needed to adjudicate ambient vs real)
        queries["vec1m_ctrl_ratio"] = round(ctrl_time() / ctrl0, 2)
        _v1m_jit_warmup(synth_clusterable)
        corp, _ = _v1m_corpus(synth_clusterable)

        def _build_flat():
            eng.create("bench_v1m_flat", V1M_DIM, "IDMap,Flat", metric_type="L2")
            eng.add("bench_v1m_flat", corp)

        timed_build("vec1m_flat_build_sec", _build_flat)

        def _build_ivf():
            eng.create(
                "bench_v1m", V1M_DIM, f"IDMap,IVF{V1M_NLIST}", metric_type="L2"
            )
            eng.add("bench_v1m", corp)

        timed_build("vec1m_build_sec", _build_ivf)
        # corpus-histogram skew receipt (the build already enforced the cap)
        queries["vec1m_corpus_max_share"] = _max_share("bench_v1m")
        timed_build(
            "vec1m_warm_sec",
            lambda: (eng.warm("bench_v1m"), eng.warm("bench_v1m_flat")),
        )

        # SQ8 storage tier build (same corpus; its search key lives in the
        # search leg with the other steady-state kernels)
        def _build_sq():
            eng.create(
                "bench_v1m_sq", V1M_DIM, "IDMap,Flat,SQ8", metric_type="L2"
            )
            eng.add("bench_v1m_sq", corp)

        timed_build("vec1m_sq8_build_sec", _build_sq)
        eng.warm("bench_v1m_sq")
        state["v1m_ready"] = True

    def _v1m_ensure(untimed_warm: bool = True):
        """Self-build for a standalone search leg (BENCH_ONLY=vec1m_search /
        vec1m_np16): same corpus, same JIT warmup, builds untimed."""
        if state.get("v1m_ready"):
            return state["v1m_corp"], state["v1m_q256"]
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
        )
        from _synth import synth_clusterable

        _v1m_jit_warmup(synth_clusterable)
        corp, q256 = _v1m_corpus(synth_clusterable)
        eng.create("bench_v1m_flat", V1M_DIM, "IDMap,Flat", metric_type="L2")
        eng.add("bench_v1m_flat", corp)
        eng.create(
            "bench_v1m", V1M_DIM, f"IDMap,IVF{V1M_NLIST}", metric_type="L2"
        )
        eng.add("bench_v1m", corp)
        eng.create("bench_v1m_sq", V1M_DIM, "IDMap,Flat,SQ8", metric_type="L2")
        eng.add("bench_v1m_sq", corp)
        if untimed_warm:
            for nm in ("bench_v1m", "bench_v1m_flat", "bench_v1m_sq"):
                eng.warm(nm)
        state["v1m_ready"] = True
        return corp, q256

    def _v1m_teardown():
        for nm in ("bench_v1m", "bench_v1m_flat", "bench_v1m_sq"):
            eng.destroy(nm)
        state["v1m_corp"].unpersist()
        state["v1m_q256"].unpersist()
        state["v1m_ready"] = False

    # --- vec1m SEARCH leg --------------------------------------------------
    @section("vec1m_search", also=("vec1m",))
    def _vec1m_search():
        corp, q256 = _v1m_ensure()
        # quiet-gate (r14 task 6): the search leg is < 3 min — shorter than
        # the host's ~4-6 min storm cadence — so launching it in a fresh
        # quiet window keeps its keys out of the storm the build leg may
        # have attracted.  Free on a quiet host (load < 10 returns at once).
        waited, load_g = quiet_wait(max_sec=180.0, target=10.0)
        queries["vec1m_search_gate_wait_sec"] = round(waited, 1)
        queries["vec1m_search_load_at_key"] = round(load_g, 2)
        queries["vec1m_search_ctrl_ratio"] = round(ctrl_time() / ctrl0, 2)
        # search keys: median-of-3 in-artifact (VERDICT r12 task 1) — these
        # are the legs whose honest same-code spread crossed their own 2x
        # guards (bulk 15.1-88.8, sq8_knn 3.8-28.2 across four r12
        # recordings); a single draw cannot grade them
        bench_entry(
            "vec1m_knn_exact",
            lambda: eng.search_flat("bench_v1m_flat", 10, q256).count(),
            samples=3,
        )
        v_exact = {
            (r["qid"], r["label"])
            for r in eng.search_flat("bench_v1m_flat", 10, q256).collect()
        }
        bench_entry(
            "vec1m_knn_np4",
            lambda: eng.search_flat(
                "bench_v1m", 10, q256, params={"nprobe": 4}
            ).count(),
            samples=3,
        )
        bench_entry(
            "vec1m_knn_np16",
            lambda: eng.search_flat(
                "bench_v1m", 10, q256, params={"nprobe": 16}
            ).count(),
            samples=3,
        )
        # scan width of one np4 and one np16 read, beside their wall times:
        # the stored corpus is coalesced to scan_tasks() tasks per read
        from stage_tasks import scan_tasks_of  # tools/, put on sys.path by both legs

        for np_ in (4, 16):
            _, queries[f"vec1m_knn_np{np_}_scan_tasks"] = scan_tasks_of(
                spark,
                lambda n=np_: eng.search_flat(
                    "bench_v1m", 10, q256, params={"nprobe": n}
                ).count(),
            )
        for np_, key in ((4, "vec1m_recall_np4"), (16, "vec1m_recall_np16")):
            hits = {
                (r["qid"], r["label"])
                for r in eng.search_flat(
                    "bench_v1m", 10, q256, params={"nprobe": np_}
                ).collect()
            }
            queries[key] = round(len(hits & v_exact) / len(v_exact), 4)
        # filtered search at corpus scale (VERDICT r10 task 6): the
        # reference's headline bench axis is filtered search across
        # selectivities (go/main_test.go:34-49, go/benches_c.go:167) but
        # the sf0.1 filtered keys run over 2,000 rows — pure fixed
        # overhead.  Semi-join pre-filter against the 1M corpus at the
        # reference's sweep endpoints: p=1% prunes the scan to ~10k rows
        # (the semi-join dominates), p=50% scans half the corpus.
        for p in (1, 50):
            allowed = corp.filter(F.col("label") % 100 < p).select("label")
            bench_entry(
                f"vec1m_filtered_p{p}",
                lambda a=allowed: eng.search_flat(
                    "bench_v1m", 10, q256, params={"nprobe": 16}, allowed_df=a
                ).count(),
                samples=3,
            )
        # bulk grouped equi-join path (the plan corpus-scale query sides
        # auto-route onto; the path r9 made 2.6x faster had NO bench guard)
        from _synth import synth_clusterable

        qbulk = synth_clusterable(
            spark, V1M_NBULK, V1M_DIM, n_clusters=V1M_NC, lo=V1M_N + 256,
            id_col="qid",
        )
        bench_entry(
            "vec1m_bulk_np16",
            lambda: eng.search_flat(
                "bench_v1m", 10, qbulk, params={"nprobe": 16, "bulk_queries": 1}
            ).count(),
            samples=3,
        )
        # SQ8 decode-free L2 kernel (r12) — the sq8-vs-raw delta is the A/B
        # vs vec1m_knn_exact
        bench_entry(
            "vec1m_sq8_knn",
            lambda: eng.search_flat("bench_v1m_sq", 10, q256).count(),
            samples=3,
        )
        sq_hits = {
            (r["qid"], r["label"])
            for r in eng.search_flat("bench_v1m_sq", 10, q256).collect()
        }
        queries["vec1m_sq8_recall"] = round(
            len(sq_hits & v_exact) / len(v_exact), 4
        )
        for key, floor in V1M_FLOORS.items():
            queries[f"{key}_floor_ok"] = bool(queries.get(key, 0.0) >= floor)
        _v1m_teardown()

    # --- vec1m np16 FOCUSED receipt mode (r14, VERDICT r13 task 4) ---------
    # SPARK_GRAFT_BENCH_ONLY=vec1m_np16: self-build untimed, then a
    # sub-3-min sampling leg — quiet-gate, 5 consecutive np16 samples with
    # a per-sample load trail.  vec1m_knn_np16 has breached the official
    # artifact two rounds running while sibling keys sat at pin; its grade
    # needs >= 10 dedicated quiet samples (3 runs of this mode), not one
    # lucky pin-run draw.  Never runs in the full suite.
    @section("vec1m_np16", explicit_only=True)
    def _vec1m_np16():
        corp, q256 = _v1m_ensure()
        waited, load_g = quiet_wait(max_sec=300.0, target=5.0)
        queries["np16_gate_wait_sec"] = round(waited, 1)
        queries["np16_gate_load"] = round(load_g, 2)
        queries["np16_ctrl_ratio"] = round(ctrl_time() / ctrl0, 2)

        def run():
            return eng.search_flat(
                "bench_v1m", 10, q256, params={"nprobe": 16}
            ).count()

        run()  # leg warmup (same as bench_entry warmup=True)
        trail = []
        for _ in range(5):
            t = round(timed(run), 4)
            trail.append({"sec": t, "load_1m": round(host_load(), 2)})
        sample_trails["vec1m_knn_np16_focus"] = trail
        queries["vec1m_knn_np16"] = _median([s["sec"] for s in trail])
        queries["np16_min"] = min(s["sec"] for s in trail)
        queries["np16_ctrl_after"] = round(ctrl_time() / ctrl0, 2)
        _v1m_teardown()

    # --- vec1m bulk FOCUSED receipt mode (r15, VERDICT r14 task 7) ---------
    # SPARK_GRAFT_BENCH_ONLY=vec1m_bulk: self-build untimed, quiet-gate,
    # then 5 consecutive bulk-np16 samples with a per-sample load trail
    # plus the corpus-histogram max_share receipt.  vec1m_bulk_np16 is the
    # suite's worst non-build key and r14's adjudication of its 8.5->20 s
    # regression hinged on one storm-hit full-suite window; this mode
    # grades it on >= 5 dedicated quiet samples.  Never runs in the full
    # suite (the full suite's vec1m_search section still times it).
    @section("vec1m_bulk", explicit_only=True)
    def _vec1m_bulk():
        _v1m_ensure()
        from _synth import synth_clusterable

        qbulk = synth_clusterable(
            spark, V1M_NBULK, V1M_DIM, n_clusters=V1M_NC, lo=V1M_N + 256,
            id_col="qid",
        )
        queries["vec1m_corpus_max_share"] = _max_share("bench_v1m")
        waited, load_g = quiet_wait(max_sec=300.0, target=5.0)
        queries["bulk_gate_wait_sec"] = round(waited, 1)
        queries["bulk_gate_load"] = round(load_g, 2)
        queries["bulk_ctrl_ratio"] = round(ctrl_time() / ctrl0, 2)

        def run():
            return eng.search_flat(
                "bench_v1m", 10, qbulk, params={"nprobe": 16, "bulk_queries": 1}
            ).count()

        run()  # leg warmup (same as bench_entry warmup=True)
        trail = []
        for _ in range(5):
            t = round(timed(run), 4)
            trail.append({"sec": t, "load_1m": round(host_load(), 2)})
        sample_trails["vec1m_bulk_np16_focus"] = trail
        queries["vec1m_bulk_np16"] = _median([s["sec"] for s in trail])
        queries["bulk_min"] = min(s["sec"] for s in trail)
        queries["bulk_ctrl_after"] = round(ctrl_time() / ctrl0, 2)
        _v1m_teardown()

    # --- relational headliners (count() forces full execution) -------------
    @section("relational")
    def _relational():
        bench_entry(
            "q03_equi_join", lambda: entry.q03_equi_join(spark, sf_dir).count(),
            warmup=True,
        )
        bench_entry(
            "q05_agg_multi", lambda: entry.q05_agg_multi(spark, sf_dir).count(),
            warmup=True,
        )
        bench_entry(
            "q07_window_topk", lambda: entry.q07_window_topk(spark, sf_dir).count(),
            warmup=True,
        )

    # --- exact kNN: SQL-expression path and engine float32 path -----------
    @section("exact_knn_ip")
    def _exact_sql():
        bench_entry(
            "exact_knn_ip", lambda: entry.knn_ip(spark, sf_dir).count(), warmup=True
        )

    @section("engine_exact")
    def _engine_exact():
        # ingest timings are sub-second at this sf — one-shot measurements
        # swing 2x on startup noise, so take the best of 3 trials each,
        # INTERLEAVED (L,U,L,U,L,U) so drifting host load hits both paths
        # equally; the first labeled trial doubles as the index build used
        # below.  Unlabeled = sequential auto-ids assigned JVM-side (the
        # path r2's .rdd.zipWithIndex made the slow lane).
        t0 = time.perf_counter()
        eng.create("bench_ip", dim, "IDMap,Flat", metric_type="INNER_PRODUCT")
        eng.add("bench_ip", emb.select("vec_id", "embedding"))
        ingest_sec = time.perf_counter() - t0
        unlab_sec = None
        for i in range(3):
            t0 = time.perf_counter()
            eng.create(f"bench_unlab_t{i}", dim, "Flat", metric_type="INNER_PRODUCT")
            eng.add(f"bench_unlab_t{i}", emb.select("embedding"))
            t = time.perf_counter() - t0
            unlab_sec = t if unlab_sec is None else min(unlab_sec, t)
            eng.destroy(f"bench_unlab_t{i}")
            if i < 2:
                t0 = time.perf_counter()
                eng.create(
                    f"bench_ip_t{i}", dim, "IDMap,Flat", metric_type="INNER_PRODUCT"
                )
                eng.add(f"bench_ip_t{i}", emb.select("vec_id", "embedding"))
                ingest_sec = min(ingest_sec, time.perf_counter() - t0)
                eng.destroy(f"bench_ip_t{i}")
        queries["ingest_rows_per_sec"] = round(n_emb / ingest_sec, 1)
        queries["ingest_unlabeled_rows_per_sec"] = round(n_emb / unlab_sec, 1)

        qdf48 = emb.limit(48).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("vector")
        ).cache()
        qdf48.count()
        qdf1 = qdf48.limit(1).cache()
        qdf1.count()
        state["qdf48"], state["qdf1"] = qdf48, qdf1

        bench_entry(
            "exact_knn_engine",
            lambda: eng.search_flat("bench_ip", 10, qdf48).count(),
            warmup=True,
        )
        t48 = timed(lambda: eng.search_flat("bench_ip", 10, qdf48).count())
        t1 = timed(lambda: eng.search_flat("bench_ip", 10, qdf1).count())
        queries["batch48_sec"] = round(t48, 4)
        queries["batch1_sec"] = round(t1, 4)
        queries["batch_amortization"] = round(t48 / max(t1, 1e-9), 3)
        state["exact_hits"] = {
            (r["qid"], r["label"])
            for r in eng.search_flat("bench_ip", 10, qdf48).collect()
        }

    def ensure_exact():
        """qdf48 + the bench_ip flat index + the exact top-k ground truth.
        A full run builds them in engine_exact; a standalone
        SPARK_GRAFT_BENCH_ONLY run of filtered_knn/ivf/hnsw/ivf_hnsw/lsh
        builds them here (~2 s at sf0.1), so those sections now qualify
        for quiet-host re-pinning too (r13: the ivfhnsw re-pin needed a
        standalone section; before this they errored on missing state)."""
        if "exact_hits" not in state:
            eng.create("bench_ip", dim, "IDMap,Flat", metric_type="INNER_PRODUCT")
            eng.add("bench_ip", emb.select("vec_id", "embedding"))
            q = emb.limit(48).select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("vector")
            ).cache()
            q.count()
            state["qdf48"] = q
            state["exact_hits"] = {
                (r["qid"], r["label"])
                for r in eng.search_flat("bench_ip", 10, q).collect()
            }
        return state["qdf48"], state["exact_hits"]

    # --- filtered kNN selectivity sweep (sel = vec_id % 100 < p) -----------
    @section("filtered_knn")
    def _filtered():
        qdf48, _ = ensure_exact()
        emb.createOrReplaceTempView("bench_embeddings")
        for p in (1, 10, 50, 90):
            bench_entry(
                f"filtered_knn_p{p}",
                lambda p=p: eng.search_filter(
                    "bench_ip", 10, qdf48, f"vec_id % 100 < {p}", "vec_id",
                    "bench_embeddings",
                ).count(),
                warmup=(p == 1),
            )

    def recall(hits) -> float:
        exact_hits = state["exact_hits"]
        return round(len(hits & exact_hits) / len(exact_hits), 4)

    # --- IVF (ANN scale path): cluster-pruned search + recall --------------
    # floor distribution root-caused in r10 (VERDICT r9 wrong #4: 0.5625
    # measured vs 0.55 looked like a coin-flip guard): 5 fresh-process
    # runs (tools/out_r10/np4_repin_*.json) all measure EXACTLY 0.5625 —
    # the sf0.1 layout is deterministic (seeded driver-side fit; corpus
    # max cluster 140 < the 500-row cap, so corpus rebalance no-ops and
    # nlist stays 16).  There is no run-to-run noise to absorb; the floor
    # guards CODE-driven layout change only.  0.53 leaves ~0.03 headroom
    # for deliberate small layout shifts while still catching real drops.
    RECALL_FLOORS = {"ivf_recall_nprobe4": 0.53, "ivf_recall_nprobe16": 0.95}

    @section("ivf")
    def _ivf():
        qdf48, _ = ensure_exact()
        # in-suite build attribution (VERDICT r8 task 2): phase timers +
        # host load + JVM heap, so BENCH itself explains any gap vs the
        # standalone quiet builder (8.2 in-suite vs 4.6 standalone in r8)
        try:
            with open("/proc/loadavg") as f:
                queries["ivf_build_load1m"] = float(f.read().split()[0])
            rt = spark._jvm.java.lang.Runtime.getRuntime()
            queries["ivf_build_heap_used_mb"] = round(
                (rt.totalMemory() - rt.freeMemory()) / 1e6
            )
        except Exception:
            pass
        # first build: the SAME single add() call r1-r8 timed (train+assign
        # in one pass) so ivf_build_sec stays cross-round comparable.  It is
        # always the session's first KMeans, so it carries the ~6.5 s
        # JIT/Arrow-init penalty attributed in SCALE.md r9 (cold0 fit
        # 10.5 s -> steady 3.6-4.0 s; heap-pressure refuted)
        t0 = time.perf_counter()
        eng.create("bench_ivf", dim, "IDMap,IVF16,Flat", metric_type="INNER_PRODUCT")
        eng.add("bench_ivf", emb.select("vec_id", "embedding"))
        queries["ivf_build_sec"] = round(time.perf_counter() - t0, 4)
        # steady-state build, phase-split: the amortized cost a session
        # building many indexes actually pays, fit vs assign attributed
        t0 = time.perf_counter()
        eng.create("bench_ivf2", dim, "IDMap,IVF16,Flat", metric_type="INNER_PRODUCT")
        eng.manual_train("bench_ivf2", emb.select("embedding"))
        t_fit = time.perf_counter()
        queries["ivf_build_fit_sec"] = round(t_fit - t0, 4)
        eng.add("bench_ivf2", emb.select("vec_id", "embedding"))
        queries["ivf_build_assign_sec"] = round(time.perf_counter() - t_fit, 4)
        queries["ivf_build_steady_sec"] = round(time.perf_counter() - t0, 4)
        eng.destroy("bench_ivf2")
        bench_entry(
            "ivf_knn_nprobe4",
            lambda: eng.search_flat("bench_ivf", 10, qdf48, params={"nprobe": 4}).count(),
            warmup=True,
        )
        bench_entry(
            "ivf_knn_nprobe16",
            lambda: eng.search_flat("bench_ivf", 10, qdf48, params={"nprobe": 16}).count(),
        )
        ivf_hits = {
            (r["qid"], r["label"])
            for r in eng.search_flat("bench_ivf", 10, qdf48, params={"nprobe": 4}).collect()
        }
        queries["ivf_recall_nprobe4"] = recall(ivf_hits)
        ivf16_hits = {
            (r["qid"], r["label"])
            for r in eng.search_flat("bench_ivf", 10, qdf48, params={"nprobe": 16}).collect()
        }
        queries["ivf_recall_nprobe16"] = recall(ivf16_hits)
        for key, floor in RECALL_FLOORS.items():
            queries[f"{key}_floor_ok"] = bool(queries.get(key, 0.0) >= floor)
        # bulk-query path regression guard (VERDICT r4 task 6): the WHOLE
        # embeddings table as the query side through the executor-side
        # block equi-join (the plan corpus-scale query sides auto-route
        # onto; forced here because sf0.1 sits under the auto threshold)
        qall = emb.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("vector")
        )
        bench_entry(
            "bulk_knn",
            lambda: eng.search_flat(
                "bench_ivf", 10, qall, params={"nprobe": 4, "bulk_queries": 1}
            ).count(),
            warmup=True,
        )

    # --- HNSW graph ANN (the reference's headline index shape) -------------
    @section("hnsw")
    def _hnsw():
        qdf48, _ = ensure_exact()
        t0 = time.perf_counter()
        eng.create("bench_hnsw", dim, "IDMap,HNSW32", metric_type="INNER_PRODUCT")
        eng.add("bench_hnsw", emb.select("vec_id", "embedding"))
        queries["hnsw_build_sec"] = round(time.perf_counter() - t0, 4)
        bench_entry(
            "hnsw_knn_ef128",
            lambda: eng.search_flat(
                "bench_hnsw", 10, qdf48, params={"efSearch": 128}
            ).count(),
            warmup=True,
        )
        hnsw_hits = {
            (r["qid"], r["label"])
            for r in eng.search_flat(
                "bench_hnsw", 10, qdf48, params={"efSearch": 128}
            ).collect()
        }
        queries["hnsw_recall_ef128"] = recall(hnsw_hits)
        # filtered graph search @1% (graph_filter='auto' picks the plan by
        # expected evaluations — the r4 cost model, recorded per-round);
        # recall is vs the exact FILTERED top-k on the Flat index
        allowed = emb.filter(F.col("vec_id") % 100 < 1).select("vec_id")
        fexact = {
            (r["qid"], r["label"])
            for r in eng.search_flat("bench_ip", 10, qdf48, allowed_df=allowed).collect()
        }
        frun = lambda: eng.search_flat(  # noqa: E731
            "bench_hnsw", 10, qdf48, params={"efSearch": 128}, allowed_df=allowed
        )
        bench_entry("hnsw_filtered_p1", lambda: frun().count(), warmup=True)
        queries["hnsw_filtered_p1_recall"] = round(
            len({(r["qid"], r["label"]) for r in frun().collect()} & fexact)
            / max(len(fexact), 1),
            4,
        )

    # composite IVF_HNSW (the reference's IVF2048_HNSW128 shape): nprobe
    # routes to clusters, per-cluster NSW graphs beam inside each
    @section("ivf_hnsw")
    def _ivfhnsw():
        qdf48, _ = ensure_exact()
        # min_graph_rows=0 (r13, VERDICT r12 task 6): the default threshold
        # (1 Mi rows/cluster) built ZERO graphs at sf0.1 — every cluster sat
        # below it, the search was plan-identical to plain IVF, and the
        # ivfhnsw keys overstated what they exercised (the engine warned so
        # each round; the bench now measures the plan the key NAMES).  Keys
        # re-pinned for the graph-building configuration.
        t0 = time.perf_counter()
        eng.create(
            "bench_ivfhnsw", dim, "IDMap,IVF16_HNSW32",
            metric_type="INNER_PRODUCT", params={"min_graph_rows": 0},
        )
        eng.add("bench_ivfhnsw", emb.select("vec_id", "embedding"))
        queries["ivfhnsw_build_sec"] = round(time.perf_counter() - t0, 4)
        ivfhnsw_run = lambda: eng.search_flat(  # noqa: E731
            "bench_ivfhnsw", 10, qdf48, params={"nprobe": 8, "efSearch": 64}
        )
        bench_entry("ivfhnsw_knn_np8", lambda: ivfhnsw_run().count(), warmup=True)
        queries["ivfhnsw_recall_np8"] = recall(
            {(r["qid"], r["label"]) for r in ivfhnsw_run().collect()}
        )
        # graph-path recall floor (r13): 0.833 in all three pin runs
        # (deterministic layout) — guards the beam search actually losing
        # candidates, with headroom for deliberate layout shifts
        queries["ivfhnsw_recall_np8_floor_ok"] = bool(
            queries["ivfhnsw_recall_np8"] >= 0.80
        )
        # np16 recall completes the router-bound story: the composite's
        # recall tracks PLAIN IVF at matched nprobe (SCALE.md A/B), so at
        # nprobe=nlist it must hit 1.0 — any gap would mean the graph
        # stage itself is losing candidates
        queries["ivfhnsw_recall_np16"] = recall(
            {
                (r["qid"], r["label"])
                for r in eng.search_flat(
                    "bench_ivfhnsw", 10, qdf48, params={"nprobe": 16, "efSearch": 64}
                ).collect()
            }
        )

    # --- wide vectors (the reference's real dimensionality) ----------------
    # dim-1536 exact kNN + similarity join at reduced n: regression-guards
    # the byte-budgeted block packing (operators/topk.py rows_for_budget,
    # simjoin.py) that keeps ~64 MB tasks when rows are 24x wider than the
    # dim-64 test tables (VERDICT r5 task 6)
    @section("wide_vec")
    def _wide():
        from duckdb_faiss_ext_spark.operators.simjoin import similarity_join

        wdim, wn, wq = (1536, 5_000, 500) if SMOKE else (1536, 20_000, 2_000)
        # r12 root-cause of the round-over-round Janino 64 KB fallback
        # (VERDICT r11 task 2): the old synth built the vector as
        # F.array(*[F.rand(seed=101+j) for j in range(1536)]) — a
        # 1536-child expression whose generated processNext() overflowed
        # Janino's method limit, so THE SYNTH STAGE ran interpreted (the
        # timed keys were fine: they run Arrow kernels over the persisted
        # frame).  A transform-over-sequence hash keeps the expression
        # tree constant-size at any dim (same sin-hash as tools/_synth),
        # is deterministic, and compiles: codegen_fallbacks 1 -> 0.
        wide = (
            spark.range(wn)
            .select(
                F.col("id").alias("vec_id"),
                F.expr(
                    f"transform(sequence(0, {wdim - 1}), j -> "
                    "cast(sin(id * 131 + j * 7919) * 43758.5453 - "
                    "floor(sin(id * 131 + j * 7919) * 43758.5453) as float))"
                ).alias("embedding"),
            )
            .persist()
        )
        wide.count()
        eng.create("bench_wide", wdim, "IDMap,Flat", metric_type="INNER_PRODUCT")
        eng.add("bench_wide", wide, validate=False)
        wq48 = wide.limit(48).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("vector")
        ).cache()
        wq48.count()
        bench_entry(
            "wide1536_knn",
            lambda: eng.search_flat("bench_wide", 10, wq48).count(),
            warmup=True,
        )
        right = wide.limit(wq).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
        )
        left = wide.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
        )
        bench_entry(
            "wide1536_simjoin",
            lambda: similarity_join(
                left, right, 5, metric="INNER_PRODUCT", bulk=True
            ).count(),
            warmup=True,
        )
        eng.destroy("bench_wide")
        wide.unpersist()

    # --- LSH ANN (training-free scale path): bucket-join + recall ----------
    # signatures are computed ONCE and cached — the steady-state cost the
    # signatures-as-index design intends (corpus_sig param, operators/lsh.py)
    @section("lsh")
    def _lsh():
        qdf48, _ = ensure_exact()
        from duckdb_faiss_ext_spark.operators.lsh import (
            corpus_mean,
            lsh_ann_cosine,
            lsh_signatures,
        )

        corpus = emb.select(
            F.col("vec_id").alias("label"), F.col("embedding").alias("vector")
        )
        ctr = corpus_mean(corpus, dim)
        corpus_sig = lsh_signatures(
            corpus, dim, id_col="label", n_planes=4, n_tables=8, center=ctr
        ).cache()
        corpus_sig.count()
        run_lsh = lambda: lsh_ann_cosine(  # noqa: E731
            corpus, qdf48, 10, dim, n_planes=4, n_tables=8,
            corpus_sig=corpus_sig, center=ctr,
        )
        bench_entry("lsh_knn_4x8", lambda: run_lsh().count(), warmup=True)
        queries["lsh_recall_4x8"] = recall(
            {(r["qid"], r["label"]) for r in run_lsh().collect()}
        )

    # --- LLM-pipeline ops --------------------------------------------------
    @section("sessionize_events")
    def _sess():
        bench_entry(
            "sessionize_events",
            lambda: entry.sessionize_events(spark, sf_dir).count(),
            warmup=True,
        )

    @section("knn_majority_vote")
    def _mv():
        bench_entry(
            "knn_majority_vote",
            lambda: entry.knn_majority_vote(spark, sf_dir).count(),
            warmup=True,
        )

    @section("similarity_join_f64")
    def _sj():
        bench_entry(
            "similarity_join_f64",
            lambda: entry.similarity_join_topk(spark, sf_dir).count(),
            warmup=True,
        )

    @section("dedup_minhash_lsh")
    def _dd():
        bench_entry(
            "dedup_minhash_lsh",
            lambda: entry.dedup_lsh_pairs(spark, sf_dir).count(),
            warmup=True,
        )

    # full 5-stage dedup pipeline so caps/components regressions surface
    # per-round (VERDICT r3 task 7) — times the example's run_pipeline
    # DIRECTLY, so the benched pipeline is the canonical one by definition
    @section("dedup_pipeline_full")
    def _ddp():
        from examples.dedup_pipeline import run_pipeline

        docs0 = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        holder = {"all": []}

        def run():
            holder["stats"] = run_pipeline(docs0, emb)
            holder["all"].append(holder["stats"]["timings"])

        bench_entry("dedup_pipeline_full", run, warmup=False)
        # stage split (VERDICT r4 task 6): a decomposition of the entry
        # above — recorded for attribution, EXCLUDED from the headline
        # total (the dedup_stage_ prefix) so the pipeline isn't counted
        # twice.  Stage keys get the SAME >2x-of-baseline contention guard
        # as bench_entry keys (VERDICT r7 task 6): min per stage across any
        # pipeline reruns, plus one pipeline rerun if a stage still breaches
        timings = {
            st: min(t[st] for t in holder["all"] if st in t)
            for st in holder["all"][0]
        }
        breached = [
            st
            for st, sec in timings.items()
            if (b := r1.get(f"dedup_stage_{st}")) and sec > 2.0 * b
        ]
        # ctrl ratio recorded UNCONDITIONALLY (VERDICT r9 wrong #5: r9's
        # stage keys drifted 1.2-1.3x with no ratio in the artifact to
        # adjudicate ambient vs real — exactly what the guard was for)
        queries["dedup_stages_ctrl_ratio"] = round(ctrl_time() / ctrl0, 2)
        if breached:
            run()
            queries["dedup_stages_reruns"] = 1
            timings = {
                st: min(t[st] for t in holder["all"] if st in t)
                for st in timings
            }
        for st, sec in timings.items():
            queries[f"dedup_stage_{st}"] = round(sec, 4)
        # loud-cap receipt (VERDICT r11 task 5): what the band-bucket caps
        # dropped this round — diagnostics, excluded from the total
        for pfx in ("lsh", "semantic"):
            cap = holder["stats"].get(f"{pfx}_bucket_cap") or {}
            for kk in ("bucket_cap_hits", "largest_bucket"):
                if kk in cap:
                    queries[f"dedup_{pfx}_{kk}"] = cap[kk]

    # --- dedup pipeline FOCUSED receipt mode (r15, VERDICT r14 task 7) -----
    # SPARK_GRAFT_BENCH_ONLY=dedup_full: quiet-gate, then 5 consecutive
    # full-pipeline samples with a per-sample load trail.  r14's official
    # 32-core reading (22.9 s, ctrl_ratio 4.45) was pure ambient noise —
    # the quiet 8-core run timed 6.12 s — so this key's grade needs
    # dedicated quiet samples, not one full-suite window.  Never runs in
    # the full suite (the dedup_pipeline_full section still times it there).
    @section("dedup_full", explicit_only=True)
    def _ddp_focus():
        from examples.dedup_pipeline import run_pipeline

        docs0 = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        waited, load_g = quiet_wait(max_sec=300.0, target=5.0)
        queries["ddfull_gate_wait_sec"] = round(waited, 1)
        queries["ddfull_gate_load"] = round(load_g, 2)
        queries["ddfull_ctrl_ratio"] = round(ctrl_time() / ctrl0, 2)

        def run():
            run_pipeline(docs0, emb)

        run()  # leg warmup
        trail = []
        for _ in range(5):
            t = round(timed(run), 4)
            trail.append({"sec": t, "load_1m": round(host_load(), 2)})
        sample_trails["dedup_pipeline_full_focus"] = trail
        queries["dedup_pipeline_full"] = _median([s["sec"] for s in trail])
        queries["ddfull_min"] = min(s["sec"] for s in trail)
        queries["ddfull_ctrl_after"] = round(ctrl_time() / ctrl0, 2)

    @section("text_quality_lang")
    def _tq():
        bench_entry(
            "text_quality_lang",
            lambda: entry.text_quality(spark, sf_dir).count()
            + entry.text_lang(spark, sf_dir).count(),
            warmup=True,
        )

    # --- curation ops at visible scale (r11) --------------------------------
    # The curation kernels (repetition_signals / ngram_contamination /
    # curate_text) are Arrow narrow maps whose cost is per-row CPU — at
    # sf0.1's 2,000 documents they'd be fixed-overhead keys blind to kernel
    # regressions (the same argument that created the vec1m leg).  100k
    # synthetic docs x 120 tokens makes a 10x kernel regression a >10 s
    # signal while costing the suite ~25 s.  Self-contained: qualifies for
    # SPARK_GRAFT_BENCH_ONLY=curation100k quiet-host re-pinning.
    @section("curation100k")
    def _curation():
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
        )
        from _synth import synth_docs

        from duckdb_faiss_ext_spark.functions.curation import (
            TextPolicy,
            curate_text,
            ngram_contamination,
            repetition_signals,
        )

        cn = 12_500 if SMOKE else 100_000
        docs = synth_docs(spark, cn, 120, degenerate_every=1000).persist()
        docs.count()
        # JIT warmup on a 2k-doc slice: standalone (SPARK_GRAFT_BENCH_ONLY)
        # runs otherwise pay first-use C2 compilation of the regex/Arrow
        # paths inside the timed leg — measured 18.9 s standalone-quiet vs
        # 7.5 s late in a contended full suite for the SAME curate query
        # (r11); the keys time the steady state, like vec1m's.
        wdocs = docs.filter("doc_id < 2000")
        repetition_signals(wdocs).filter("top_2gram_char_frac > 0.5").count()
        ngram_contamination(
            wdocs, wdocs.filter("doc_id % 211 = 0").select("text"), n=13
        ).filter("is_contaminated").count()
        curate_text(wdocs, TextPolicy()).groupBy("status").count().count()
        holder = {}

        def rep():
            holder["flagged"] = (
                repetition_signals(docs)
                .filter("top_2gram_char_frac > 0.5")
                .count()
            )

        bench_entry("cur100k_rep_sec", rep)
        # every 1000th doc is the known-degenerate fixture; missing any is
        # a kernel-correctness regression, not a timing one
        queries["cur100k_rep_flagged_floor_ok"] = holder["flagged"] == cn // 1000

        ev = docs.filter("doc_id % 2111 = 0").select("text")
        bench_entry(
            "cur100k_contam_sec",
            lambda: ngram_contamination(docs, ev, n=13)
            .filter("is_contaminated")
            .count(),
        )
        bench_entry(
            "cur100k_curate_sec",
            lambda: curate_text(docs, TextPolicy()).groupBy("status").count().count(),
        )
        docs.unpersist()


    non_time_keys = {
        "ingest_rows_per_sec",
        "ingest_unlabeled_rows_per_sec",
        "batch_amortization",
        "ivf_recall_nprobe4",
        "ivf_recall_nprobe16",
        "hnsw_recall_ef128",
        "hnsw_filtered_p1_recall",
        "ivfhnsw_recall_np8",
        "ivfhnsw_recall_np16",
        "lsh_recall_4x8",
        "host_load_1m",
        "control_q05_sec",
    }
    # Diagnostic, not a timing: the sandbox host has noisy CPU neighbors
    # (isolated A/B reruns of one query swing 3.4s..36s); readers comparing
    # rounds need the load context next to the numbers.
    queries["host_load_1m"] = round(os.getloadavg()[0], 2)
    # interpreted-stage receipt (VERDICT r11 task 2): 0 = every benched
    # stage ran compiled; nonzero names the sections in the full file
    queries["codegen_fallbacks"] = scan.events()
    total = round(
        sum(
            v
            for k, v in queries.items()
            if k not in non_time_keys
            and not isinstance(v, bool)  # _floor_ok flags: True summed as
            # 1.0 s each and inflated r1-r9 headline totals by +2.0 (r10 fix)
            and not k.endswith("_ctrl_ratio")
            and not k.endswith("_ctrl_abs")
            and not k.endswith("_reruns")
            and not k.endswith("_recall") and "_recall_" not in k
            and not k.endswith("_max_share")
            and not k.endswith("_scan_tasks")  # a task count, not seconds
            # diagnostics, not timings: the heap/load attribution keys
            # (r8) summed ~165 fake "seconds" into the r8/r9 headline
            # totals (ivf_build_heap_used_mb alone was 162-491)
            and not k.endswith("_heap_used_mb")
            and not k.endswith("_load1m")
            and not k.endswith("_bucket_cap_hits")
            and not k.endswith("_largest_bucket")
            # r12 breach-adjudication trail: loads/waits are not timings
            and not k.endswith("_load_at_key")
            and not k.endswith("_load_after_wait")
            and not k.endswith("_quiet_wait_sec")
            and k not in ("host_load_start", "codegen_fallbacks")
            # stage splits decompose dedup_pipeline_full (already counted)
            and not k.startswith("dedup_stage_")
        ),
        4,
    )
    queries = {k: (round(v, 4) if isinstance(v, float) else v) for k, v in queries.items()}
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # --- artifact split (VERDICT r10 task 2): the r10 headline line grew
    # past the driver's 2000-char stdout tail capture and the round's
    # bench recorded `parsed: null`.  EVERYTHING still lands in a full
    # side file; the stdout line keeps the timing/throughput/recall keys
    # and moves pure diagnostics (ctrl ratios, rerun markers, heap/load
    # attribution, per-stage splits of an already-counted pipeline, and
    # per-floor booleans — summarized to one `floors_ok`) to the file.
    here = os.path.dirname(os.path.abspath(__file__))
    # Durable full artifact (VERDICT r13 What's-wrong #2: the official r13
    # full file lived only at tools/bench_full_latest.json and the next
    # pytest bench-smoke clobbered it).  Resolution order:
    #   1. SPARK_GRAFT_BENCH_FULL_PATH — callers that must not clobber the
    #      official artifact (the pytest smoke) point this at a tempdir.
    #   2. default: a unique per-run file tools/bench_runs/full_<utc>_<pid>
    #      .json (never overwritten; the "full" pointer in the headline line
    #      names it) PLUS a compat copy at tools/bench_full_latest.json.
    full_env = os.environ.get("SPARK_GRAFT_BENCH_FULL_PATH")
    latest_path = None
    if full_env:
        full_path = full_env
    else:
        stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
        run_dir = os.path.join(here, "tools", "bench_runs")
        try:
            os.makedirs(run_dir, exist_ok=True)
        except OSError:
            run_dir = os.path.join(here, "tools")
        full_path = os.path.join(
            run_dir, "full_%s_%d.json" % (stamp, os.getpid()))
        latest_path = os.path.join(here, "tools", "bench_full_latest.json")
    full_out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf_val,
    }
    if errors:
        full_out["errors"] = errors
    # raw median-of-N trails (r13): every sample behind each heavy-leg
    # median, pre- and post-quiet-wait — the artifact carries its own spread
    if sample_trails:
        full_out["sample_trails"] = sample_trails
    # codegen-fallback attribution (r12): per-section event deltas and the
    # first matched log lines, so a nonzero count names its stage
    full_out["codegen_fallback_counts"] = scan.snapshot()
    if section_fallbacks:
        full_out["codegen_fallback_sections"] = section_fallbacks
        full_out["codegen_fallback_samples"] = scan.samples[:10]
    try:
        with open(full_path, "w") as f:
            json.dump(full_out, f, indent=1)
    except OSError:
        full_path = None
    if latest_path and full_path:
        try:  # best-effort compat copy; the unique file is authoritative
            with open(latest_path, "w") as f:
                json.dump(full_out, f, indent=1)
        except OSError:
            pass

    def is_side(k: str) -> bool:
        # _ambient_breach verdicts + codegen_fallbacks stay IN-LINE: they
        # are the adjudication evidence the official artifact must carry
        # (VERDICT r11 tasks 1-2); only the raw trail moves to the file
        return (
            k.endswith(("_ctrl_ratio", "_ctrl_abs", "_reruns",
                        "_heap_used_mb", "_load1m",
                        "_load_at_key", "_load_after_wait", "_quiet_wait_sec",
                        "_gate_wait_sec",
                        "_bucket_cap_hits", "_largest_bucket"))
            or k.startswith("dedup_stage_")
            or k.endswith("_floor_ok")
            # pure decompositions of keys that stay in-line (batch_
            # amortization = t48/t1; steady = fit + assign)
            or k in ("batch48_sec", "batch1_sec",
                     "ivf_build_fit_sec", "ivf_build_assign_sec")
        )

    # compact-line floats at 3 decimals (1 ms resolution): the r12 run-2
    # line measured EXACTLY 1900 chars — one byte from the driver's
    # ~1900-char tail capture truncating the JSON head (the r10 failure
    # mode).  Full-precision values stay in the side file.
    compact = {
        k: (round(v, 3) if isinstance(v, float) else v)
        for k, v in queries.items()
        if not is_side(k)
    }
    # fallback attribution detail is side-file only; the line keeps the
    # single queries["codegen_fallbacks"] count.  sample_trails moved to
    # the side file too (r14): the raw trails alone are ~700 chars — the
    # r13 smoke line hit 1792 chars on a stormy host AFTER exhausting the
    # whole trim list because the trails rode the line; every timing KEY
    # the driver parses stays in `queries`, the per-sample diagnostics
    # live in the committed full artifact.
    out_base = {
        k: v
        for k, v in full_out.items()
        if not k.startswith("codegen_fallback_") and k != "sample_trails"
    }
    floor_keys = [k for k in queries if k.endswith("_floor_ok")]
    if floor_keys:
        # only when floors were actually evaluated — a floorless partial
        # run (SPARK_GRAFT_BENCH_ONLY on a floorless section, or both
        # floor sections erroring) must not read as a floor regression
        compact["floors_ok"] = all(queries[k] for k in floor_keys)
    for k in floor_keys:  # red floors stay in-line, never only in the file
        if not queries[k]:
            compact[k] = False
    out = dict(out_base, queries=compact)
    if full_path:
        out["full"] = os.path.relpath(full_path, here)
    if errors:  # headline keeps error NAMES; tracebacks/messages in the file
        out["errors"] = {k: v[:60] for k, v in errors.items()}
    line = json.dumps(out)
    if len(line) > 1600:
        # last-resort trim, loudly: recall VALUES are floor-guarded above
        # and fully recorded in the side file — but red *_floor_ok keys
        # (re-added deliberately just above) stay in-line
        out["queries"] = {
            k: v
            for k, v in compact.items()
            if "_recall" not in k or k.endswith("_floor_ok")
        }
        out["trimmed"] = "recall keys -> full file"
        line = json.dumps(out)
    # GUARANTEED stage (r13: the gate line hit 2176 chars after the recall
    # trim — vec1m-first + median keys + breach verdicts grew the line past
    # the driver's ~1900-char capture cliff): shed the lowest-information
    # keys (sub-second fixed-overhead legs, decompositions, guarded twins)
    # until the line fits.  Everything stays in the full side file.
    LOW_PRIORITY = [
        "filtered_knn_p10", "filtered_knn_p90", "ivf_build_steady_sec",
        "q05_agg_multi", "q07_window_topk", "q03_equi_join",
        "hnsw_filtered_p1", "ivf_knn_nprobe16", "control_q05_sec",
        "ingest_unlabeled_rows_per_sec", "exact_knn_ip", "hnsw_knn_ef128",
        "lsh_knn_4x8", "text_quality_lang", "knn_majority_vote",
        "similarity_join_f64", "bulk_knn", "ivf_knn_nprobe4",
        "wide1536_knn", "hnsw_build_sec", "batch_amortization",
        "filtered_knn_p1", "filtered_knn_p50", "ingest_rows_per_sec",
        "cur100k_contam_sec", "exact_knn_engine",
    ]
    for k in LOW_PRIORITY:
        if len(line) <= 1500:
            break
        if out["queries"].pop(k, None) is not None:
            out["trimmed"] = "recall + low-info keys -> full file"
            line = json.dumps(out)
    print(line)
    if errors and not queries:
        sys.exit(1)


if __name__ == "__main__":
    main()
