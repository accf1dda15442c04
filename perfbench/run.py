"""Oracle-verified benchmark of the osmalyzer_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload xref --seed 1 --seconds 10 --trace 0

One run is one fresh process with one closed-loop client on
``local[<cores>]``: set-up (session start plus the first scan, repeated
``SETUPS`` times), one cold pass over the workload's steps, one warm pass,
then the radius-join step repeated for ``--seconds`` (at least
``MIN_SPATIAL`` times) for the spatial throughput. The pass count is fixed
so that every run's ``pass_s`` is the same pass. A step is timed as its
builder call plus the full collect of its result; every result is then
checked, outside the timed window, against a digest of the DuckDB
``oracle_sql()`` text run on the same input files.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
passes with job groups and the Spark event log on and prints the per-layer
metrics. Human-readable report lines come first; the last line of standard
output is one JSON object. The exit code is non-zero when any step failed
or did not match its oracle.

Everything a run writes stays under ``.perfbench/`` in the working
directory: its inputs, ``TMPDIR``, Spark local dirs and checkpoint
directories live in ``.perfbench/run-<pid>`` and are removed when the run
ends; the oracle digest cache, the last untraced ``pass_s`` per workload
and the traced runs' spans are kept.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
SETUPS = 5
MIN_SPATIAL = 3


def median_line(xs: list[float]) -> str:
    """Median and sample count. A run takes at most a dozen samples of a
    timing, too few for any percentile above the median to have ten
    samples beyond it, so none is reported."""
    return f"median {statistics.median(xs):.4f} s, n={len(xs)}"


def running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie (which is reaped here when
    it is this process's child)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        with contextlib.suppress(ChildProcessError):
            os.waitpid(pid, os.WNOHANG)
        return False
    return True


def dir_bytes(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


class Run:
    def __init__(self, args, state: Path, run_dir: Path):
        import workloads

        self.args = args
        self.state = state
        self.run_dir = run_dir
        self.steps = workloads.STEPS[args.workload]
        self.input_dir = run_dir / "inputs"
        self.events = run_dir / "events"
        self.ctx = workloads.Ctx(self.input_dir, run_dir / "ck")
        self.spans = None
        self.spark = None
        self.failed = 0
        self.attempted = 0
        self.passes: list[list[dict]] = []  # [cold pass, warm pass]
        self.spatial: list[dict] = []  # the repeated radius-join step
        self.gate_calls: list[dict] = []  # filled by measure.observe_gates
        self.last_frame = None  # (a collected result, its oracle digest)

    # -- process and session lifetime -------------------------------------

    def spark_conf(self) -> dict[str, str]:
        # a fixed heap and young generation: with G1 sizing them adaptively,
        # peak RSS varied by 16-29 % between runs of the same inputs
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
            "spark.local.dir": str(self.run_dir / "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir / 'tmp'} -Xms4g -Xmn1g",
        }
        if self.args.trace:
            self.events.mkdir(exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.events.as_uri()
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return conf

    def start_session(self):
        from osmalyzer_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        return get_spark("perfbench", parallelism=cpus, shuffle_partitions=cpus,
                         extra_conf=self.spark_conf())

    def stop_all(self) -> None:
        """Stop the session and the JVM, and wait for every process this run
        started (the JVM and its Python workers) to end."""
        from pyspark import SparkContext

        from measure import descendants

        me = os.getpid()
        started = [p for p in descendants(me) if p != me]
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on end of input
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        # the Python workers exit once the JVM has gone; give them 30 s
        deadline = time.time() + 30
        while alive := [p for p in started if running(p)]:
            if time.time() > deadline:
                for pid in alive:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
                deadline = time.time() + 5
            time.sleep(0.05)

    def untimed(self) -> None:
        """Attribute the jobs that follow to no step (checks, counters)."""
        if self.args.trace:
            self.spark.sparkContext.setJobGroup("untimed", "benchmark bookkeeping")

    # -- steps -------------------------------------------------------------

    def run_step(self, k: int, step, oracle: dict) -> dict:
        from measure import plan_stats

        sc = self.spark.sparkContext
        if self.args.trace:
            sc.setJobGroup(f"p{k}:{step.name}", step.name)
        out = error = df = None
        t0 = t1 = time.time()
        try:
            df = step.build(self.spark, self.ctx)
            t1 = time.time()
            if step.fetch == "rows":
                out = df.toPandas()
            elif step.fetch == "count":
                out = df.count()
        except Exception as e:  # noqa: BLE001 - a failing step is counted, not fatal
            error = e
        t2 = time.time()
        if df is None:
            t1 = t2
        self.untimed()
        rec = {"step": step.name, "t0": t0, "t1": t1, "t2": t2, "s": t2 - t0,
               "gate_calls": [c for c in self.gate_calls if c["start"] >= t0]}
        ok, why = self.check(step, out, error, oracle, rec)
        if self.args.trace:
            if df is not None and error is None and step.fetch != "crash":
                rec.update(plan_stats(df))
            info = sc._jsc.sc().getRDDStorageInfo()
            rec["cached_rdds"] = len(info)
            rec["cached_bytes"] = sum(i.memSize() + i.diskSize() for i in info)
        rec["ok"] = ok
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAIL pass {k} {step.name}: {why}", flush=True)
        return rec

    def check(self, step, out, error, oracle: dict, rec: dict) -> tuple[bool, str]:
        from oracle import count_digest, digest

        if step.fetch == "crash":
            if error is None or "simulated crash" not in str(error):
                return False, f"expected the injected crash, got {error!r}"
            rec["done_at_crash"] = len(self.ctx.ck.done_buckets(self.spark))
            return True, ""
        if error is not None:
            return False, f"{type(error).__name__}: {error}"
        if step.fetch == "count":
            rec["rows"] = out
            got = count_digest(out)
        else:
            rec["rows"] = len(out)
            got = digest(out)
            self.last_frame = (out, oracle[step.oracle])
        if got != oracle[step.oracle]:
            return False, f"digest {got['rows']} rows {got['sha256'][:12]} != oracle " \
                          f"{oracle[step.oracle]['rows']} rows {oracle[step.oracle]['sha256'][:12]}"
        if step.name == "ckpt_resume":
            return self.check_resume(out, rec)
        return True, ""

    def check_resume(self, out, rec: dict) -> tuple[bool, str]:
        ck = self.ctx.ck
        dups = int(out.duplicated(["kind", "osm_id", "item_id"]).sum())
        n_big = self.ctx.info["resume_phases"].get("n_big_components", 0)
        total = ck.n_buckets + n_big
        crash = next(r for r in self.passes_current if r["step"] == "ckpt_crash")
        done = crash.get("done_at_crash", -1)
        progress = ck.metrics(self.spark).select("bucket", "wall_ms").collect()
        ck_bytes, ck_files = dir_bytes(Path(ck.out_path))
        out_bytes, _ = dir_bytes(Path(ck.out_path) / "data")
        rec.update(
            buckets_total=total, buckets_done_at_crash=done,
            buckets_redone=len(progress) - len({r["bucket"] for r in progress}),
            write_ms=sum(r["wall_ms"] for r in progress),
            bytes_written=ck_bytes, files_written=ck_files,
            ckpt_bytes_per_out_byte=ck_bytes / out_bytes,
            crash_phases=dict(self.ctx.info["crash_phases"]),
            resume_phases=dict(self.ctx.info["resume_phases"]),
        )
        if dups:
            return False, f"{dups} duplicate (kind, osm_id, item_id) rows after resume"
        if not 0 < done < total:
            return False, f"crash left {done} of {total} buckets done, not a partial state"
        return True, ""

    def run_pass(self, k: int, oracle: dict) -> list[dict]:
        self.ctx.pass_index = k
        self.ctx.info = {}
        self.passes_current = recs = []
        for step in self.steps:
            recs.append(self.run_step(k, step, oracle))
        return recs

    def self_test(self) -> bool:
        """Alter one value of a collected result: the check must then fail."""
        from oracle import digest

        if self.last_frame is None:
            return False
        frame, expected = self.last_frame
        bad = frame.copy()
        col = bad.columns[0]
        v = bad.at[0, col]
        bad.at[0, col] = v + 1 if not isinstance(v, str) else v + "x"
        return digest(bad) != expected

    # -- the run -------------------------------------------------------------

    def execute(self) -> dict:
        import inputs
        import oracle as oracle_mod
        import workloads
        from measure import RssSampler, Spans, observe_gates

        args = self.args
        for sub in ("tmp", "local", "ck"):
            (self.run_dir / sub).mkdir(parents=True)
        os.environ["TMPDIR"] = str(self.run_dir / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.run_dir / "local")
        tempfile.tempdir = str(self.run_dir / "tmp")

        wall = {"start": time.time()}
        manifest = inputs.derive(args.workload, args.seed, self.input_dir)
        for t, m in manifest.items():
            print(f"input {t}: {m['rows']} rows, {m['bytes']} bytes, {m['files']} files")
        wanted = workloads.oracles(args.workload)
        oracle, oracle_s = oracle_mod.oracle_digests(
            self.state / "oracle-cache.json", inputs.content_key(args.workload),
            self.input_dir, list(manifest), wanted,
        )
        print(f"oracle digests: {len(oracle)} ({'computed in %.1f s' % oracle_s if oracle_s else 'cached'})")
        gates = workloads.gate_sizes(oracle["gates"])
        print("gates: " + json.dumps(gates))
        self.spans = Spans(f"{args.workload}-{args.seed}-{os.getpid()}")

        wall["oracle"] = time.time()
        with RssSampler() as rss:
            setups = []
            for i in range(SETUPS):
                t0 = time.time()
                self.spark = self.start_session()
                t1 = time.time()
                self.spark.read.parquet(str(self.input_dir / "customer.parquet")).count()
                t2 = time.time()
                setups.append(t2 - t0)
                self.spans.add("setup", "session", t0, t2, session_s=t1 - t0)
                if i == 0:
                    session_start = t1 - t0
                if i < SETUPS - 1:
                    self.spark.stop()
            self.untimed()
            with observe_gates(self.gate_calls) if args.trace else nullcontext():
                self.passes.append(self.run_pass(0, oracle))
                self.passes.append(self.run_pass(1, oracle))
                step = next(s for s in self.steps if s.name == "radius_join")
                t_end = time.time() + args.seconds
                while time.time() < t_end or len(self.spatial) < MIN_SPATIAL:
                    self.spatial.append(self.run_step(2 + len(self.spatial), step, oracle))
            layer = self.layer_probes() if args.trace else {}
            selftest_ok = self.self_test()
            wall["passes"] = time.time()
            self.stop_all()
            peak_rss = rss.peak
        wall["stop"] = time.time()
        marks = list(wall.items())
        print("wall: " + ", ".join(f"{b[0]} {b[1] - a[1]:.1f} s" for a, b in zip(marks, marks[1:]))
              + f" (run so far {marks[-1][1] - marks[0][1]:.1f} s)")

        totals = [sum(r["s"] for r in recs) for recs in self.passes]
        rj = [r["rows"] / r["s"] for r in self.spatial if r["ok"]]
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "cold_pass_s": (totals[0], "s"),
            "pass_s": (totals[1], "s"),
            # a run whose radius join failed is incorrect; 0 only fills the line
            "spatial_pairs_per_s": (statistics.median(rj) if rj else 0.0, "1/s"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
        }
        self.report(setups, totals, gates, selftest_ok)
        if args.trace:
            metrics = self.layer_metrics(session_start, gates, layer)
            self.spans.write(self.state / "traces" / f"{self.spans.trace_id}.jsonl")
        else:
            self.remember_untraced(totals)
        correct = self.failed == 0 and selftest_ok
        return {
            "correct": correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def report(self, setups, totals, gates, selftest_ok) -> None:
        print(f"setup: {median_line(setups)}")
        print(f"cold pass: {totals[0]:.4f} s; warm pass: {totals[1]:.4f} s")
        for cold, warm in zip(*self.passes):
            print(f"  step {cold['step']}: cold {cold['s']:.4f} s, warm {warm['s']:.4f} s")
        reps = [r["s"] for r in self.spatial]
        print(f"  radius_join repeated: {median_line(reps)}, min {min(reps):.4f} s, "
              f"max {max(reps):.4f} s")
        resume = next((r for r in self.passes[1] if "buckets_total" in r), None)
        if resume:
            print(f"resume_s: {resume['s']:.4f} s; "
                  f"ckpt_bytes_per_out_byte: {resume['ckpt_bytes_per_out_byte']:.4f}")
        print(f"fail_ratio: {self.failed}/{self.attempted}")
        print(f"gate sides: DA {gates['da_side']} ({gates['da_pairs']} pairs vs "
              f"{gates['da_threshold']}), CC {gates['cc_side']} ({gates['cc_edges']} edges "
              f"vs {gates['cc_threshold']})")
        print(f"self-test (one altered value must fail the check): "
              f"{'ok' if selftest_ok else 'FAILED'}")

    def remember_untraced(self, totals) -> None:
        path = self.state / "untraced-pass-s.json"
        data = json.loads(path.read_text()) if path.is_file() else {}
        data[self.args.workload] = totals[1]
        path.write_text(json.dumps(data))

    # -- the traced run ------------------------------------------------------

    def layer_probes(self) -> dict:
        """Direct timed calls to layer functions, outside the passes."""
        from pyspark.sql import functions as F

        import workloads
        from measure import candidate_pairs

        spark = self.spark
        out = {}
        elements, items = workloads.geo_inputs(spark, self.input_dir)
        out["knn.candidate_pairs"] = candidate_pairs(items, elements, workloads.RADIUS_JOIN_M)
        if self.args.workload == "xref":
            from osmalyzer_spark.operators.dedup import (
                minhash_lsh_pairs,
                minhash_signatures,
                simhash_fingerprints,
            )

            docs = spark.read.parquet(str(self.input_dir / "documents.parquet"))
            t0 = time.time()
            sigs = minhash_signatures(docs, "doc_id", "text", 128)
            sigs.agg(F.count("sig")).collect()
            out["dedup.minhash_sig_s"] = time.time() - t0
            t0 = time.time()
            simhash_fingerprints(docs, "doc_id", "text").agg(F.count("simhash")).collect()
            out["dedup.simhash_sig_s"] = time.time() - t0
            out["dedup.lsh_candidate_pairs"] = minhash_lsh_pairs(
                sigs, 32, 0.0, num_hashes=128
            ).count()
        return out

    def layer_metrics(self, session_start: float, gates: dict, probes: dict) -> dict:
        from measure import idle_s, read_event_logs

        groups = read_event_logs(self.events)
        warm = self.passes[1]

        def grp(k, r):
            return groups.get(f"p{k}:{r['step']}", {})

        def warm_sum(per_step):
            """A per-step figure summed over the warm pass."""
            return sum(per_step(grp(1, r), r) for r in warm)

        def step_rec(name):
            return next((r for r in warm if r["step"] == name), None)

        # spans: step -> build/fetch, plus the step's jobs from the event log
        coverage = []
        timed = [(k, r) for k, recs in enumerate(self.passes) for r in recs]
        timed += [(2 + i, r) for i, r in enumerate(self.spatial)]
        for k, r in timed:
            sid = self.spans.add(r["step"], "step", r["t0"], r["t2"], pass_index=k)
            self.spans.add("build", "plans", r["t0"], r["t1"], sid)
            self.spans.add("fetch", "exec", r["t1"], r["t2"], sid)
            for s, e in grp(k, r).get("jobs", []):
                self.spans.add("job", "spark", s, e, sid)
            for c in r["gate_calls"]:
                self.spans.add(c["gate"], "correlator" if c["gate"] == "da" else "dedup",
                               c["start"], c["end"], sid, side=c["side"])
            coverage.append(((r["t1"] - r["t0"]) + (r["t2"] - r["t1"])) / max(r["s"], 1e-9))

        task = warm_sum(lambda g, r: g.get("task_s", 0.0))
        cpu = warm_sum(lambda g, r: g.get("cpu_s", 0.0))
        gc = warm_sum(lambda g, r: g.get("gc_s", 0.0))
        in_radius = self.spatial[0]["rows"]
        corr_steps = {s.name for s in self.steps if s.layer == "correlator"}
        res = step_rec("ckpt_resume") or {}
        m = {
            "session.start_s": (session_start, "s"),
            "plans.build_s": (warm_sum(lambda g, r: r["t1"] - r["t0"]), "s"),
            "plans.catalyst_s": (sum(r.get("catalyst_s", 0.0) for r in self.passes[0]), "s"),
            "plans.jobs": (warm_sum(lambda g, r: len(g.get("jobs", []))), "count"),
            "plans.job_gap_s": (warm_sum(lambda g, r: idle_s(r["t0"], r["t2"], g.get("jobs", []))), "s"),
            "plans.python_eval_nodes": (warm_sum(lambda g, r: r.get("python_eval_nodes", 0)), "count"),
            "plans.exchanges": (warm_sum(lambda g, r: r.get("exchanges", 0)), "count"),
            "exec.task_s": (task, "s"),
            "exec.cpu_s": (cpu, "s"),
            "exec.gc_s": (gc, "s"),
            "exec.nonjvm_s": (task - cpu - gc, "s"),
            "exec.shuffle_read_bytes": (warm_sum(lambda g, r: g.get("shuffle_read_bytes", 0)), "bytes"),
            "exec.shuffle_write_bytes": (warm_sum(lambda g, r: g.get("shuffle_write_bytes", 0)), "bytes"),
            "exec.spill_bytes": (warm_sum(lambda g, r: g.get("spill_bytes", 0)), "bytes"),
            "exec.result_bytes": (warm_sum(lambda g, r: g.get("result_bytes", 0)), "bytes"),
            "exec.max_task_over_median": (max(
                grp(1, r).get("max_task_over_median", 1.0) for r in warm), "ratio"),
            "knn.radius_join_s": (statistics.median(r["s"] for r in self.spatial), "s"),
            "knn.in_radius_pairs": (in_radius, "count"),
            "knn.candidate_pairs": (probes["knn.candidate_pairs"], "count"),
            "knn.useful_ratio": (in_radius / probes["knn.candidate_pairs"], "ratio"),
            "correlator.correlate_s": (warm_sum(lambda g, r: r["s"] if r["step"] in corr_steps else 0.0), "s"),
            "correlator.da_s": (warm_sum(lambda g, r: sum(
                c["end"] - c["start"] for c in r["gate_calls"] if c["gate"] == "da")), "s"),
            "correlator.rounds": (warm_sum(lambda g, r: sum(
                c["rounds"] for c in r["gate_calls"] if c["gate"] == "da")), "count"),
            "correlator.gate_pairs": (gates["da_pairs"], "count"),
            "dedup.cc_edges": (gates["cc_edges"], "count"),
            "checkpoint.buckets_total": (res.get("buckets_total", 0), "count"),
            "checkpoint.buckets_done_at_crash": (res.get("buckets_done_at_crash", 0), "count"),
            "checkpoint.buckets_redone": (res.get("buckets_redone", 0), "count"),
            "checkpoint.bytes_written": (res.get("bytes_written", 0), "bytes"),
            "checkpoint.files_written": (res.get("files_written", 0), "count"),
            "storage.cached_rdds_after_step": (max(r["cached_rdds"] for r in warm), "count"),
            "storage.cached_bytes_after_step": (max(r["cached_bytes"] for r in warm), "bytes"),
            "trace.pass_s": (warm_sum(lambda g, r: r["s"]), "s"),
        }
        # layer figures that only one workload exercises: printed, not in
        # the JSON line, where they would read 0 on the other workload
        only = {}
        for name, key in (("polygon.pip_s", "q12_point_in_polygon"),
                          ("tiles.assign_s", "q13_tile_assignment")):
            if step_rec(key):
                only[name] = step_rec(key)["s"]
        if "dedup.minhash_sig_s" in probes:
            accepted = step_rec("q21_minhash_lsh")["rows"]
            only.update(
                {k: probes[k] for k in ("dedup.minhash_sig_s", "dedup.simhash_sig_s",
                                        "dedup.lsh_candidate_pairs")},
                **{"dedup.accepted_pairs": accepted,
                   "dedup.lsh_accept_ratio": accepted / max(probes["dedup.lsh_candidate_pairs"], 1)},
            )
        if res:
            only["checkpoint.write_ms"] = res["write_ms"]
            only["checkpoint.resume_s"] = res["s"]
            only["checkpoint.ckpt_bytes_per_out_byte"] = res["ckpt_bytes_per_out_byte"]
            for phase, v in res["crash_phases"].items():
                only[f"correlator.ckpt.crash.{phase}"] = v
            for phase, v in res["resume_phases"].items():
                only[f"correlator.ckpt.resume.{phase}"] = v
        for name, v in sorted(only.items()):
            print(f"layer {name}: {v}")
        print(f"span coverage of step wall time: min {min(coverage):.3f}")
        seen = sorted({(c["gate"], c["side"]) for r in warm for c in r["gate_calls"]})
        print("observed gate sides: " + (", ".join(f"{g.upper()} {side}" for g, side in seen)
                                         or "no DA or CC call"))
        untraced = self.state / "untraced-pass-s.json"
        base = json.loads(untraced.read_text()).get(self.args.workload) if untraced.is_file() else None
        traced = m["trace.pass_s"][0]
        if base:
            print(f"tracing overhead: {traced - base:+.4f} s "
                  f"(traced pass_s {traced:.4f} - untraced pass_s {base:.4f})")
        else:
            print("tracing overhead: no untraced run of this workload recorded yet")
        return m


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["xref", "resume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "osmalyzer_spark" / "__init__.py").is_file():
        print("perfbench: osmalyzer_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(root)]
    # the Python workers import the package too, not only this driver
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p
    )
    state = root / ".perfbench"
    run_dir = state / f"run-{os.getpid()}"
    run = Run(args, state, run_dir)
    try:
        result = run.execute()
    finally:
        run.stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
