"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may
run on); prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The driver records this as BENCH_r{N}.json each round (BASELINE.md target:
within 2x of baseline at the same scale factor).

Interleaved A/B mode (VERDICT r10 item 3, on by default): the prior
round's code (SHA in ``BENCH_PIN``) is checked out into
``/tmp/spark_graft_bench_pin/<sha>`` (outside the repo so LoC/copy scans
never see the duplicate) and run as a second arm in its own
subprocess+JVM
(``tools/bench_ab_worker.py``). Every HEAD timing run is immediately
followed by the SAME query on the pinned arm — strictly alternating, one
query on the host at a time — so host drift (load, thermal, page cache)
hits both arms at per-run granularity and the recorded round-over-round
ratio is self-adjudicating instead of needing a BENCH_NOTES drift
section. The JSON line gains an ``"ab"`` object with both arms' medians;
all pre-existing fields are unchanged. Disable with
``SPARK_GRAFT_BENCH_AB=0``; any pin failure (missing SHA, worktree or
worker error) degrades to the classic single-arm recording with a note
on stderr.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))

#: Headline set: one representative per operator family.
HEADLINE = [
    "medallion_gold",       # reference pipeline end-to-end
    "groupby_agg",          # TPC-H Q1-shaped aggregation
    "join_inner",           # star join (broadcast dims + sort-merge fact join)
    "join_asof",            # union+window as-of join
    "window_topk_group",    # window functions over the fact table
    "session_window_agg",   # streaming-twin sessionization
    "dedup_latest",         # keep-latest dedup
    "topk_global",          # TakeOrderedAndProject
    "minhash_lsh_pairs",    # MinHash+LSH near-dup pipeline
    "cosine_topk",          # embedding similarity search (exact baseline)
    "ann_lsh_search",       # embedding ANN — the scale path (recall ~0.46
                            # at 4 tables x 4 planes, see llm/similarity.py)
    "tfidf_stats",          # text analysis explode/join
    "multimodal_features",  # Arrow mapInPandas path
    "semdedup_corpus",      # IVF-cell semantic dedup (cluster -> verify)
    "quality_bucket_mix",   # unigram-LM scoring + percentile bucket sampling
    "sparse_cosine_topk",   # inverted-index sparse TF-IDF similarity (r3)
    "hll_distinct",         # bounded-state sketch path (r3)
    "zorder_layout_extents",  # data-layout key + extent diagnostics (r3)
    "curation_pipeline_e2e",  # flagship: full curation run in one plan (r3)
    "bloom_join_prefilter",   # runtime-filter join pruning (r5)
    "pq_codes",               # product-quantization codebook assignment (r5)
    "dup_span_coverage",      # exact-substring dedup coverage (r5 s2)
    "abc_pareto_class",       # two-level distributed prefix sum (r5 s3)
    "simhash_hamming_pairs",  # banded SimHash near-dup search (r5 s3)
    "gini_concentration",     # two-level global rank + cumsum (r5 s4)
    "bm25_topk",              # lexical retrieval over inverted postings (r5 s2)
    "winnowing_fingerprints", # MOSS grouped-min fingerprint selection (r5 s4)
    "k_anonymity_audit",      # privacy-audit groupBy family (r6 s2)
    "resource_allocation_links",  # basket-bounded link prediction (r6 s2)
    "rolling_active_users",   # explode-cover WAU rollup (r6 s2)
    "spatial_grid_radius_join",   # grid-bucketed spatial join (r6 s3)
    "multimodal_pixel_decode",    # numpy raster/PCM decode via Arrow (r6 s3)
    "matrix_profile_daily",       # widest window build: exact matrix profile (r6 s3)
    "deltalite_merge_time_travel",  # the write-path headliner: ACID MERGE + travel (r6 s3)
    "kruskal_wallis_test",        # nonparametric-test panel representative (r8)
    "xml_scan",                   # native XML source path (r8)
    "stratified_ate",             # causal/ML-analytics representative (r9;
                                  # mlstats.py had zero bench coverage)
    "event_study_coefficients",   # panel regression around event time (r9)
    "markov_attribution_removal", # bounded-matrix applyInPandas path (r9)
    "duplicate_cluster_components",  # iterative CC over the LSH dup graph (r10;
                                     # first bench coverage of the unrolled
                                     # relax/compress loop shape)
    "shapley_attribution",        # coalition-lattice attribution (r10)
    "ktruss_edges",               # 5-round unrolled k-truss peeling (r11;
                                  # the deepest iterative-refinement plan
                                  # in the suite: 5x oriented wedge joins)
    "err_at_k_eval",              # cascade-model ranking eval over the
                                  # exact + LSH ANN pipelines (r11)
    "interval_join_purchase_click",  # stream-stream interval join twin (r11)
    "dbscan_grid_clusters",       # subcell-certified DBSCAN + hash-to-min CC
                                  # (r12; the saturation-proof rebuild)
    "power_iteration_top_eigen",  # 12 exact matvec rounds on the fixed-point
                                  # gram (r12; PCA-at-scale shape)
    "kneser_ney_bigram_score",    # shared-token-layer LM scoring (r15: the
                                  # recovered heaviest op — one explode pass,
                                  # type-keyed shuffles only)
    "gopher_quality_panel",       # published quality-rule gate: map-only
                                  # integer panel + 7-row unpivot (r15)
    "url_canonical_dedup",        # URL-canonicalization exact dedup (r15)
    "hilbert_pruning_audit",      # Hilbert tile-pruning effectiveness (r15)
]

def _quiet_bounded_spine_warnings(spark) -> None:
    """Raise WindowExec's log level to ERROR for this JVM: every
    partitionless window in the registry is a pinned bounded spine, so the
    per-execution WARN spam is pure noise here. The tripwire that catches
    a NEW partitionless window is tests/test_plan_sweep.py, which checks
    every registered plan against its ``PARTITIONLESS_ALLOWED`` pin."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # log4j2 API unavailable: noisy but harmless


class _PinnedArm:
    """Subprocess handle for the pinned-SHA arm (see module docstring)."""

    def __init__(self, proc: subprocess.Popen, sha: str):
        self.proc = proc
        self.sha = sha
        self.queries: set[str] = set()

    def ask(self, req: dict) -> dict:
        self.proc.stdin.write(json.dumps(req) + "\n")
        self.proc.stdin.flush()
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("pinned arm exited")
            try:
                out = json.loads(line)
            except json.JSONDecodeError:
                continue  # JVM/log noise on stdout
            if "err" in out:
                raise RuntimeError(f"pinned arm: {out['err']}")
            return out

    def close(self) -> None:
        # Idempotent: degrade paths close eagerly AND the finally block
        # closes again (ADVICE r11 — a dropped handle orphaned the pinned
        # JVM for the rest of the bench, adding background load to the
        # remaining HEAD timings).
        if getattr(self, "_closed", False):
            return
        self._closed = True
        try:
            self.proc.stdin.write(json.dumps({"cmd": "quit"}) + "\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=30)
        except Exception:
            self.proc.kill()


def _start_pinned_arm() -> _PinnedArm | None:
    if os.environ.get("SPARK_GRAFT_BENCH_AB", "1") != "1":
        return None
    try:
        sha = next(
            ln.strip()
            for ln in open(os.path.join(REPO, "BENCH_PIN"))
            if ln.strip() and not ln.startswith("#")
        )
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True
        ).stdout.strip()
        if head.startswith(sha):
            print("A/B: pin == HEAD, single-arm", file=sys.stderr)
            return None
        # outside the repo tree so LoC/copy scans never see the duplicate
        pin_dir = os.path.join("/tmp", "spark_graft_bench_pin", sha)
        if not os.path.isdir(pin_dir):
            r = subprocess.run(
                ["git", "worktree", "add", "--detach", pin_dir, sha],
                cwd=REPO,
                capture_output=True,
                text=True,
            )
            if r.returncode != 0:
                print(f"A/B: worktree add failed: {r.stderr.strip()}", file=sys.stderr)
                return None
        proc = subprocess.Popen(
            [sys.executable, os.path.join(REPO, "tools", "bench_ab_worker.py"), pin_dir],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            bufsize=1,
        )
        arm = _PinnedArm(proc, sha)
        while True:  # swallow startup noise until the ready line
            line = proc.stdout.readline()
            if not line:
                raise RuntimeError("pinned arm died during startup")
            try:
                if json.loads(line).get("ready"):
                    break
            except json.JSONDecodeError:
                continue
        arm.queries = set(arm.ask({"cmd": "list"})["queries"])
        return arm
    except Exception as exc:  # noqa: BLE001 — A/B is best-effort
        print(f"A/B: disabled ({type(exc).__name__}: {exc})", file=sys.stderr)
        return None


def _busy_jiffies() -> int:
    """Host-wide busy jiffies from /proc/stat (everything but idle+iowait)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    return sum(vals) - vals[3] - (vals[4] if len(vals) > 4 else 0)


def _tree_jiffies() -> int:
    """utime+stime jiffies summed over this process and all live
    descendants (the Spark JVM, Python worker daemons, the pinned-arm
    worker and its JVM are all children of this bench process)."""
    me = os.getpid()
    parent: dict[int, int] = {}
    stats: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # comm can contain spaces/parens — split after the LAST ')'
        rest = raw[raw.rindex(")") + 2 :].split()
        parent[int(d)] = int(rest[1])  # ppid is field 4 overall, rest[1]
        # utime+stime plus cutime+cstime: reaped children's jiffies move
        # into the parent's cutime/cstime, so in-tree processes that exit
        # mid-window (short-lived Python workers) stay counted as OURS
        # instead of surfacing as phantom foreign load.
        stats[int(d)] = (
            int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        )
    tree, frontier = {me}, [me]
    kids: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    while frontier:
        p = frontier.pop()
        for c in kids.get(p, ()):
            if c not in tree:
                tree.add(c)
                frontier.append(c)
    return sum(stats.get(p, 0) for p in tree)


class _LoadGuard:
    """Detects FOREIGN CPU load during a timing window (VERDICT r13 item 3:
    the order-fair A/B + outlier re-runs still recorded a same-code 16x
    under sustained host load — medians can't cancel load that covers every
    sample). Foreign cores = (host busy jiffies − our process-tree jiffies)
    over the window. The bench's own JVMs are all in-tree, so a quiet host
    measures ~0 and a competing Spark sweep measures ~dozens."""

    #: foreign cores above which a timing pair is quarantined
    THRESHOLD = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_FOREIGN_CORES", "2.0"))

    def __init__(self) -> None:
        self._hz = os.sysconf("SC_CLK_TCK")

    def snapshot(self) -> tuple[int, int, float]:
        return _busy_jiffies(), _tree_jiffies(), time.time()

    def foreign_cores(self, s0: tuple[int, int, float]) -> float:
        b1, t1, w1 = self.snapshot()
        b0, t0, w0 = s0
        dt = max(w1 - w0, 1e-6)
        return max(0.0, ((b1 - b0) - (t1 - t0)) / self._hz / dt)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Start gate: never BEGIN a recording on a visibly busy host
    # (BENCH_NOTES discipline, now enforced). Waits up to 120s for the
    # 1-min loadavg to fall below the threshold, then proceeds and lets
    # the per-pair foreign-CPU guard handle anything that starts later.
    start_load = os.getloadavg()[0]
    max_start = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_START_LOAD", "4.0"))
    wait_until = time.time() + 120
    while start_load > max_start and time.time() < wait_until:
        print(
            f"load guard: 1-min loadavg {start_load:.2f} > {max_start} — "
            "waiting for a quiet host",
            file=sys.stderr,
        )
        time.sleep(10)
        start_load = os.getloadavg()[0]
    load_info = {"start_loadavg": round(start_load, 2), "n_quarantined_pairs": 0,
                 "flagged": []}
    from ab_inbev_big_data_case_spark.registry import QUERIES, load_all
    from ab_inbev_big_data_case_spark.session import get_spark

    load_all()
    spark = get_spark("bench")
    _quiet_bounded_spine_warnings(spark)

    arm = _start_pinned_arm()
    # The handle is kept separately from the degrade flag so close() always
    # runs even after a mid-bench degradation drops `arm` (ADVICE r11).
    arm_handle = arm
    pin_sha = arm.sha if arm else None
    shared = [n for n in HEADLINE if arm and n in arm.queries]

    # Same-SHA detection (BENCH_NOTES r15 rule): when the pinned arm runs
    # the SAME commit as HEAD and the tree is clean (modulo the bench's own
    # BENCH_AB.json write), every per-query head/pin delta is environmental
    # by construction, so a tighter outlier bound applies and residual
    # outliers are excluded from the ratio of record instead of shipping
    # a phantom regression (r14's post-close run recorded 1.151 on
    # code-identical arms).
    try:
        head_sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=REPO, timeout=10,
        ).stdout.strip()
        dirty = [
            ln for ln in subprocess.run(
                ["git", "status", "--porcelain"], capture_output=True,
                text=True, cwd=REPO, timeout=10,
            ).stdout.splitlines()
            if ln.strip() not in ("M BENCH_AB.json", "?? BENCH_AB.json")
        ]
        same_sha = bool(pin_sha) and pin_sha == head_sha and not dirty
    except Exception:  # noqa: BLE001
        same_sha = False
    forced_same_sha = os.environ.get("SPARK_GRAFT_BENCH_FORCE_SAME_SHA") == "1"
    if forced_same_sha:
        same_sha = bool(pin_sha)  # rehearsal knob: exercise the same-SHA
        # noise bound on a dirty tree without minting a close.
        # VERDICT r15 item 9: a rehearsal must never be mistaken for a
        # recording of record — the flag is stamped into BENCH_AB*.json
        # below so any close gate reading the file can see it.

    # Warm the JVM, parquet reader, shuffle machinery, the Python worker
    # pool, AND each headline plan's whole-stage codegen by running every
    # headline query once at sf0.001: a first execution pays 0.3-2s of
    # expression compilation that has nothing to do with per-row cost, so
    # timing cold runs would grade codegen latency, not query throughput.
    for name in HEADLINE:
        QUERIES[name](spark, "/root/testdata/sf0.001").count()
    for name in shared:  # same warm discipline for the pinned arm
        try:
            arm.ask({"cmd": "warm", "name": name, "dir": "/root/testdata/sf0.001"})
        except Exception as exc:  # noqa: BLE001
            print(f"A/B: degraded to single-arm mid-warm ({exc})", file=sys.stderr)
            arm_handle.close()  # kill the pinned JVM before HEAD timings
            arm, shared = None, []
            break

    # Median of n runs per query: this host shows ±25% run-to-run variance
    # on sub-second queries, so single-shot timings made round-over-round
    # deltas noise (r1→r2 "regressions" on unchanged plans). Medians make
    # the recorded number signal. In A/B mode each HEAD run is immediately
    # followed by the pinned arm's run of the same query (never
    # concurrently — the host runs exactly one query at a time).
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    head_samples: dict[str, list[float]] = {}
    pin_samples: dict[str, list[float]] = {}
    guard = _LoadGuard()
    quarantine: dict[str, dict[str, list[float]]] = {}

    def _median(xs: list[float]) -> float:
        return sorted(xs)[len(xs) // 2]

    try:

        def timed_pair(fn, name: str, head_first: bool) -> None:
            """One interleaved (HEAD, pinned) timing of `name` — never
            concurrent; order set by the caller's parity."""
            nonlocal arm
            do_pin = arm and name in arm.queries

            def time_head() -> None:
                t0 = time.time()
                # count() forces full execution, no driver-side rows
                fn(spark, sf_dir).count()
                head_samples.setdefault(name, []).append(time.time() - t0)

            def time_pin() -> None:
                nonlocal arm
                if not do_pin:
                    return
                try:
                    r = arm.ask({"cmd": "time", "name": name, "dir": sf_dir})
                    pin_samples.setdefault(name, []).append(r["sec"])
                except Exception as exc:  # noqa: BLE001
                    print(
                        f"A/B: degraded to single-arm mid-bench ({exc})",
                        file=sys.stderr,
                    )
                    arm_handle.close()  # don't orphan the pinned JVM
                    arm = None

            n_h = len(head_samples.setdefault(name, []))
            n_p = len(pin_samples.setdefault(name, []))
            s0 = guard.snapshot()
            if head_first:
                time_head()
                time_pin()
            else:
                time_pin()
                time_head()
            fc = guard.foreign_cores(s0)
            if fc > guard.THRESHOLD:
                # Foreign load covered this pair: quarantine BOTH arms'
                # samples so a polluted window can't enter the medians of
                # record (the r13 zorder 16x survived medians because load
                # covered every sample — dropping is the only safe move).
                q = quarantine.setdefault(name, {"head": [], "pin": []})
                q["head"].extend(head_samples[name][n_h:])
                q["pin"].extend(pin_samples[name][n_p:])
                del head_samples[name][n_h:]
                del pin_samples[name][n_p:]
                load_info["n_quarantined_pairs"] += 1
                print(
                    f"load guard: quarantined a {name} pair "
                    f"({fc:.1f} foreign cores)",
                    file=sys.stderr,
                )

        for qi, name in enumerate(HEADLINE):
            fn = QUERIES[name]
            for run in range(n_runs):
                # ORDER-FAIR alternation (r12): which arm runs first flips
                # with (query_index + run) parity. Rehearsals showed the
                # second-to-run arm can eat a multi-second transient (JVM/
                # Python-worker state after the warm phase) on a random
                # handful of queries; a fixed head-first order credited all
                # of it to the pin and flattered the ratio (measured 0.80
                # vs 0.89 on back-to-back runs). Alternating parity puts
                # the transient on both arms equally often, so medians
                # cancel it.
                timed_pair(fn, name, head_first=(qi + run) % 2 == 0)
            if not head_samples.get(name):
                # Every pair was quarantined: fall back to the polluted
                # samples but FLAG the query — the recording is explicit
                # about which numbers were measured under load.
                q = quarantine.get(name, {"head": [], "pin": []})
                head_samples[name] = list(q["head"])
                pin_samples[name] = list(q["pin"])
                load_info["flagged"].append(name)
            if not pin_samples.get(name):
                pin_samples.pop(name, None)
            timings[name] = round(_median(head_samples[name]), 3)

        # Outlier re-run (VERDICT r12 item 5): a per-query head/pin median
        # ratio beyond 1.5x in EITHER direction is, on byte-identical code,
        # almost always a single-run transient (r12's BENCH_AB carried a
        # 2.74x phantom on an untouched file). Re-run each outlier pair 3
        # more interleaved times and re-take medians over ALL samples, so
        # one transient can't become the number of record. Genuine
        # regressions survive 6 samples; transients don't.
        if arm:
            # Same-SHA runs get the tighter bound: on code-identical arms a
            # ratio outside [1/1.3, 1.3] is noise by construction, so it is
            # re-run like any outlier (and excluded from the ratio of
            # record if it survives — see below). Cross-SHA keeps 1.5.
            out_thr = 1.3 if same_sha else 1.5
            outliers = []
            for name in shared:
                if name in load_info["flagged"]:
                    continue  # polluted samples; excluded from totals anyway
                hs, ps = head_samples.get(name), pin_samples.get(name)
                if not hs or not ps:
                    continue
                h, p = _median(hs), _median(ps)
                if p > 0 and (h / p > out_thr or p / h > out_thr):
                    outliers.append((name, round(h / p, 2)))
            for ri, (name, ratio0) in enumerate(outliers):
                if not arm:
                    break
                fn = QUERIES[name]
                for run in range(3):
                    timed_pair(fn, name, head_first=(ri + run) % 2 == 0)
                    if not arm:
                        # Pinned arm died mid-pair: stop re-running and keep
                        # only head samples that have a paired pin sample,
                        # else the head median is recomputed over more (and
                        # later) samples than the frozen pin median — a
                        # bias in the ratio of record (ADVICE r13).
                        del head_samples[name][len(pin_samples[name]) :]
                        break
                timings[name] = round(_median(head_samples[name]), 3)
                h, p = _median(head_samples[name]), _median(pin_samples[name])
                print(
                    f"A/B: outlier {name} ratio {ratio0} re-run 3x -> "
                    f"{round(h / p, 2) if p else 'n/a'} over "
                    f"{len(head_samples[name])} samples",
                    file=sys.stderr,
                )
    finally:
        if arm_handle:
            arm_handle.close()

    ab = None
    if pin_samples:
        pinned = {
            n: round(sorted(s)[len(s) // 2], 3) for n, s in pin_samples.items()
        }
        # Excluded from the shared totals / ratio of record (per-query
        # numbers stay in the maps, explicitly tagged): load-flagged
        # queries (ADVICE r14 — every pair was measured under foreign
        # load), and on same-SHA runs any pair whose ratio is still
        # outside the noise bound after the outlier re-runs (BENCH_NOTES
        # r15 — on identical code that residue is host drift, not signal).
        excluded = {n: "load_flagged" for n in load_info["flagged"]}
        if same_sha:
            for name in shared:
                if name in excluded or name not in pinned:
                    continue
                h, p = timings[name], pinned[name]
                if p > 0 and (h / p > 1.3 or p / h > 1.3):
                    excluded[name] = f"same_sha_noise_ratio_{round(h / p, 2)}"
        both = [n for n in shared if n in pinned and n not in excluded]
        head_total = round(sum(timings[n] for n in both), 3)
        pin_total = round(sum(pinned[n] for n in both), 3)
        ab = {
            "pinned_sha": pin_sha,
            "same_sha": same_sha,
            "n_shared": len(both),
            "excluded": excluded,
            "load": load_info,
            "pinned_queries": pinned,
            "head_shared_total": head_total,
            "pinned_shared_total": pin_total,
            "ratio_head_over_pinned": round(head_total / pin_total, 3)
            if pin_total
            else None,
        }
    # The driver captures only a bounded TAIL of stdout; BENCH_r11.json came
    # back "parsed": null because the per-query pinned-arm map pushed the
    # result line past that capture. The full A/B detail goes to a side
    # file; the printed number-of-record line stays compact (HEAD map +
    # A/B summary only) so it always parses.
    if ab is not None:
        if forced_same_sha:
            ab["forced_same_sha"] = True  # rehearsal, not a run of record
        with open(os.path.join(REPO, "BENCH_AB.json"), "w") as f:
            json.dump(ab, f, indent=1)
        # VERDICT r15 item 4/5: BENCH_AB.json is overwritten by every run,
        # which lost the 32-core run's per-query pin map when the 8-core
        # scaling run followed it. Keep a per-core-count copy too (plus the
        # head medians), so a later anomaly can be adjudicated per query
        # after the fact. Additions-only: the printed JSON line and
        # BENCH_AB.json are unchanged. The label is the session's resolved
        # parallelism, not the env knob, so a run on a host whose core
        # count differs from the knob's default is filed under its own.
        cpus = spark.sparkContext.defaultParallelism
        with open(os.path.join(REPO, f"BENCH_AB_{cpus}c.json"), "w") as f:
            json.dump(
                {**ab, "default_parallelism": cpus, "head_queries": timings},
                f,
                indent=1,
            )
        ab = {
            k: ab[k]
            for k in (
                "pinned_sha",
                "same_sha",
                "n_shared",
                "head_shared_total",
                "pinned_shared_total",
                "ratio_head_over_pinned",
            )
        }
        ab["n_excluded"] = len(excluded)
        ab["detail"] = "BENCH_AB.json"

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf else None,
                "load": load_info,
                "ab": ab,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
