"""The benchmark command.

    python3 etlbench/run.py --workload etl_dag --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark from
the checkout's sources (`build.py`), derives the seed's inputs from the
fixture tables (`inputs.py`), runs one workload in one JVM as a closed loop
of passes from a single driver thread, checks every delivered output, and
prints one JSON line: end-to-end metrics with `--trace 0`, per-layer metrics
with `--trace 1`. Noise controls and input choices are in `config.json`;
`README.md` defines every metric.

    python3 etlbench/run.py --selftest     # the benchmark's own tests
    python3 etlbench/run.py --record --workload llm_curation --seeds 0-99
        # re-record the committed reference digests in expected/
"""

import argparse
import json
import time
import os
import pathlib
import shutil
import signal
import subprocess
import sys

BENCH_DIR = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH_DIR))

import build  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402

CONFIG = json.loads((BENCH_DIR / "config.json").read_text())
WORKLOADS = ("etl_dag", "llm_curation")
BUILD_DIR = pathlib.Path.cwd() / ".bench_build" / "etlbench"
EXPECTED_DIR = BENCH_DIR / "expected"
# share of a traced pass's wall that the build, plan and deliver spans may
# leave uncovered (the loop between queries, the pass's export cleanup)
SPAN_SLACK = 0.05

# what spark-submit adds for Spark on JDK 17; no perf-data file in /tmp
JAVA_FLAGS = ["-XX:-UsePerfData"] + [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect",
                "java.io", "java.net", "java.nio", "java.util",
                "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action",
                "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[etlbench] {msg}", file=sys.stderr, flush=True)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_jvm(root, classes, work, args, deadline):
    """Run etlbench.Main; return its JSON record, with the share of CPU
    time the hypervisor stole from this machine while it ran."""
    timeout = deadline - time.monotonic()
    if timeout < 1:
        raise RuntimeError("no time left for the JVM")
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    out = work / "record.json"
    heap = CONFIG["heap"]
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={work / 'tmp'}"] + JAVA_FLAGS
           + ["-cp", build.classpath(root, classes), "etlbench.Main",
              f"work={work}", f"out={out}"]
           + [f"{k}={v}" for k, v in args.items()])
    with open(work.parent / "jvm.log", "w") as jlog:
        steal0, total0 = cpu_ticks()
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"JVM did not finish within {timeout:.0f} s")
    steal1, total1 = cpu_ticks()
    if code != 0 or not out.is_file():
        tail = (work.parent / "jvm.log").read_text()[-3000:]
        raise RuntimeError(f"JVM exited with {code}:\n{tail}")
    rec = json.loads(out.read_text())
    rec["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    return rec


def passes(rec):
    return [rec["cold"]] + rec["warm"] + rec["timed"]


def check(rec, expected):
    """Failed query executions, each with its reason. A thrown query, a
    digest that differs from the seed's expected one, a store rebuilt on a
    warm pass and an export target that was not written each count."""
    failures = []
    for p in passes(rec):
        for q in p["queries"]:
            name, why = q["query"], None
            if "error" in q:
                why = q["error"]
            elif q["digest"] != expected.get(name):
                why = f"digest {q['digest']} != expected {expected.get(name)}"
            elif p["label"] != "cold" and q["store_build_ns"] > 0:
                why = "store rebuilt on a warm pass"
            elif q.get("export_rebuilt") is False:
                why = "export target was not written"
            if why:
                failures.append(f"{p['label']}/{name}: {why}")
    return failures


def e2e_metrics(rec):
    return {
        "setup_s": {"value": rec["setup_s"], "unit": "s"},
        "cold_pass_s": {"value": rec["cold"]["wall_s"], "unit": "s"},
        "pass_s": {"value": stats.median(
            [p["wall_s"] for p in rec["timed"] if not p["traced"]]),
            "unit": "s"},
        "peak_rss_mb": {"value": rec["peak_rss_mb"], "unit": "MB"},
    }


def pass_spans(p, workload, slots):
    """Spans of one traced pass (pass → query → build/plan/deliver → job)
    and the pass's per-layer values."""
    spans = [{"id": 0, "parent": None, "name": p["label"],
              "start": p["start"], "end": p["end"]}]
    jobs = {}
    for j in p["jobs"]:
        jobs.setdefault((j["group"], j["phase"]), []).append(j)
    v = dict.fromkeys([
        "operators.build_s", "operators.pin_jobs", "operators.pin_s",
        "sources.export_write_s", "sources.scan_mb", "sources.scan_files",
        "planner.analysis_s", "planner.optimizer_s", "planner.physical_s",
        "planner.plan_nodes", "planner.exprs", "exec.deliver_s",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
        "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_read_mb",
        "exec.shuffle_write_mb", "exec.spill_mb"], 0.0)
    deliver_run_s = phase_s = 0.0
    for q in p["queries"]:
        if "error" in q:
            continue
        qid = len(spans)
        spans.append({"id": qid, "parent": 0, "name": q["query"],
                      "start": q["start"], "end": q["delivered"]})
        group = f"{workload}/{p['label']}/{q['query']}"
        bounds = {"build": (q["start"], q["built"]),
                  "plan": (q["built"], q["planned"]),
                  "deliver": (q["planned"], q["delivered"])}
        for phase, (s, e) in bounds.items():
            pid = len(spans)
            kids = [(j["start_ms"] * 10**6, j["end_ms"] * 10**6)
                    for j in jobs.get((group, phase), [])]
            self_ns = stats.self_time((s, e), kids)
            spans.append({"id": pid, "parent": qid, "name": phase,
                          "start": s, "end": e, "self": self_ns})
            phase_s += (e - s) / 1e9
            for j in jobs.get((group, phase), []):
                spans.append({"id": len(spans), "parent": pid,
                              "name": f"job{j['id']}",
                              "start": j["start_ms"] * 10**6,
                              "end": j["end_ms"] * 10**6,
                              "counts": {k: j[k] for k in (
                                  "stages", "tasks", "run_ms", "cpu_ns",
                                  "shuffle_read", "shuffle_write",
                                  "spill")}})
                v["exec.jobs"] += 1
                v["exec.stages"] += j["stages"]
                v["exec.tasks"] += j["tasks"]
                v["exec.task_run_s"] += j["run_ms"] / 1e3
                v["exec.task_cpu_s"] += j["cpu_ns"] / 1e9
                v["exec.gc_s"] += j["gc_ms"] / 1e3
                v["exec.shuffle_read_mb"] += j["shuffle_read"] / 2**20
                v["exec.shuffle_write_mb"] += j["shuffle_write"] / 2**20
                v["exec.spill_mb"] += j["spill"] / 2**20
                if phase == "deliver":
                    deliver_run_s += j["run_ms"] / 1e3
            if phase == "build":
                v["operators.build_s"] += self_ns / 1e9
                v["operators.pin_jobs"] += len(kids)
                v["operators.pin_s"] += (e - s - self_ns) / 1e9
            if phase == "deliver":
                v["exec.deliver_s"] += (e - s) / 1e9
        v["sources.export_write_s"] += q["export_ns"] / 1e9
        v["sources.scan_mb"] += q["scan_bytes"] / 2**20
        v["sources.scan_files"] += q["scan_files"]
        v["planner.analysis_s"] += q["analysis_ms"] / 1e3
        v["planner.optimizer_s"] += q["optimizer_ms"] / 1e3
        v["planner.physical_s"] += q["physical_ms"] / 1e3
        v["planner.plan_nodes"] += q["plan_nodes"]
        v["planner.exprs"] += q["exprs"]
    v["planner.aqe_replans"] = p["aqe_updates"]
    v["exec.busy_share"] = deliver_run_s / max(
        v["exec.deliver_s"] * slots, 1e-9)
    v["trace.unaccounted_share"] = 1.0 - phase_s / p["wall_s"]
    return spans, v


UNITS = {"_s": "s", "_mb": "MB", "_share": "ratio", "_rate": "ratio",
         "ns_per_byte": "ns/B", "ns_per_row": "ns/row"}


def unit_of(name):
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)),
                "count")


def layer_metrics(rec, failed, attempted, self_referenced, trace_file):
    traced = [p for p in rec["timed"] if p["traced"]]
    untraced = [p for p in rec["timed"] if not p["traced"]]
    per_pass, all_spans = [], []
    for p in traced:
        spans, v = pass_spans(p, rec["workload"], rec["slots"])
        per_pass.append(v)
        all_spans.append(spans)
    trace_file.parent.mkdir(parents=True, exist_ok=True)
    trace_file.write_text(json.dumps(all_spans))
    values = {k: stats.median([v[k] for v in per_pass]) for k in per_pass[0]}
    if values["trace.unaccounted_share"] > SPAN_SLACK:
        log(f"build/plan/deliver spans leave "
            f"{values['trace.unaccounted_share']:.1%} of the pass wall "
            f"unaccounted (slack {SPAN_SLACK:.0%})")
    warm = rec["warm"] + rec["timed"]
    cold = rec["cold"]
    values.update({
        "sources.store_build_s": sum(
            q.get("store_build_ns", 0) for q in cold["queries"]) / 1e9,
        "sources.store_rebuilds_warm": sum(
            1 for p in warm for q in p["queries"]
            if q.get("store_build_ns", 0) > 0),
        "exec.codegen_compiles": cold["codegen_compiles"],
        "exec.codegen_compile_s": cold["codegen_compile_ns"] / 1e9,
        "exec.listener_drain_timeouts": rec["listener_drain_timeouts"],
        "trace.overhead_s": stats.median([p["wall_s"] for p in traced])
        - stats.median([p["wall_s"] for p in untraced]),
        "run.trend_flag": int(stats.trend(
            [p["wall_s"] for p in untraced], CONFIG["trend_limit"])),
        "run.calib_cpu_s": stats.median(rec["calib_cpu_s"]),
        "run.steal_share": rec["steal_share"],
        "jvm.live_heap_mb": rec["live_heap_mb"],
        "check.self_referenced": int(self_referenced),
        "error_rate": failed / attempted,
    })
    values.update(rec["kernels"])
    return {k: {"value": v, "unit": unit_of(k)}
            for k, v in sorted(values.items())}


def derive_inputs(seed):
    """The seed's input directory (derived once, cached per seed)."""
    src = pathlib.Path(CONFIG["testdata"]) / CONFIG["scale"]
    if not src.is_dir():
        raise FileNotFoundError(f"no fixture tables in {src}")
    key = f"{CONFIG['scale']}-x{CONFIG['doc_mult']}-s{seed}"
    return inputs.derive(src, BUILD_DIR / "inputs" / key, seed,
                         CONFIG["doc_mult"])


def committed_expected(workload, seed):
    """The committed reference digests of `workload` for `seed` (the "*"
    entry holds for every seed), or None. Raises if they were recorded for
    other inputs than `config.json` now derives."""
    f = EXPECTED_DIR / f"{workload}.json"
    if not f.is_file():
        return None
    rec = json.loads(f.read_text())
    want = {k: CONFIG[k] for k in ("scale", "doc_mult")}
    if rec["inputs"] != want:
        raise ValueError(f"{f.name} was recorded for inputs {rec['inputs']},"
                         f" config.json derives {want}: re-record it")
    return rec["digests"].get(str(seed), rec["digests"].get("*"))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--seeds", default="0-9",
                    help="seeds to --record, as first-last")
    a = ap.parse_args(argv)
    root = pathlib.Path.cwd()
    if a.selftest:
        return selftest(root)
    if not a.workload:
        ap.error("--workload is required")
    try:
        classes = build.build(root)
    except build.BuildError as e:
        log(str(e))
        return 2
    if a.record:
        first, last = (int(x) for x in a.seeds.split("-"))
        return record(root, classes, a.workload, range(first, last + 1))
    deadline = time.monotonic() + CONFIG["jvm_timeout_s"]
    try:
        inp = derive_inputs(a.seed)
        expected = committed_expected(a.workload, a.seed)
    except (FileNotFoundError, ValueError) as e:
        log(str(e))
        return 2
    # without a committed reference the code under test is its own one
    self_file = BUILD_DIR / "expected" / (
        f"{a.workload}-{classes.name}-{inp.name}.json")
    self_referenced = expected is None
    if self_referenced:
        log(f"no committed reference digests for seed {a.seed}: the output "
            f"check compares the code with itself")
        if self_file.is_file():
            expected = json.loads(self_file.read_text())
    work = BUILD_DIR / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    try:
        rec = run_jvm(root, classes, work, {
            "workload": a.workload, "inputs": inp, "slots": CONFIG["slots"],
            "seconds": a.seconds, "warmup": CONFIG["warmup_passes"],
            "min_passes": CONFIG["min_timed_passes"] * (1 + a.trace),
            "trace": a.trace, "reference": int(expected is None)}, deadline)
    except RuntimeError as e:
        log(str(e))
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    problems = [f"delivered-plan guard: {q}: {why}"
                for q, why in sorted(rec["guard"].items()) if why != "ok"]
    if expected is None:
        expected = rec["reference"]
        bad = {q: d for q, d in expected.items() if d.startswith("error")}
        if bad:
            problems.append(f"reference execution failed: {bad}")
        else:
            self_file.parent.mkdir(parents=True, exist_ok=True)
            self_file.write_text(json.dumps(expected, sort_keys=True))
    failures = check(rec, expected)
    attempted = sum(len(p["queries"]) for p in passes(rec))
    for f in (problems + failures)[:20]:
        log(f)
    if a.trace:
        metrics = layer_metrics(rec, len(failures), attempted,
                                self_referenced,
                                BUILD_DIR / "traces"
                                / f"{a.workload}-s{a.seed}.json")
    else:
        metrics = e2e_metrics(rec)
    stats.check_metrics(metrics)
    summary = ", ".join(f"{k} {m['value']:.4g} {m['unit']}"
                        for k, m in metrics.items())
    log(f"{a.workload} seed {a.seed}: {summary}; error_rate "
        f"{len(failures) / attempted:.4g} ratio; timed passes "
        f"{[round(p['wall_s'], 3) for p in rec['timed']]}; "
        f"cpu probe {[round(x, 3) for x in rec['calib_cpu_s']]}; "
        f"steal {rec['steal_share']:.3f}")
    print(json.dumps({"correct": not problems and not failures,
                      "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    return 0


def record(root, classes, workload, seeds):
    """Compute and commit the reference digests of `workload` for `seeds`,
    in one JVM (a fresh session per seed). When every seed gives the same
    digests they are stored once, under "*", for every seed."""
    dirs = {str(seed): derive_inputs(seed) for seed in seeds}
    work = BUILD_DIR / "work" / f"record-{os.getpid()}"
    try:
        rec = run_jvm(root, classes, work, {
            "workload": workload, "slots": CONFIG["slots"],
            "record": ",".join(str(d) for d in dirs.values())},
            time.monotonic() + 60 * len(dirs))
    except RuntimeError as e:
        log(str(e))
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    digests = {s: rec["reference"][str(d)] for s, d in dirs.items()}
    bad = [s for s, d in digests.items()
           if any(v.startswith("error") for v in d.values())]
    if bad:
        log(f"reference execution failed for seeds {bad}")
        return 1
    if len({json.dumps(d, sort_keys=True) for d in digests.values()}) == 1:
        digests = {"*": next(iter(digests.values()))}
    EXPECTED_DIR.mkdir(exist_ok=True)
    (EXPECTED_DIR / f"{workload}.json").write_text(json.dumps({
        "inputs": {k: CONFIG[k] for k in ("scale", "doc_mult")},
        "digests": digests}, indent=1, sort_keys=True) + "\n")
    log(f"recorded {len(digests)} digest set(s) for {workload}")
    return 0


def selftest(root):
    """The Python tests, then the JVM-side tests (needs a build)."""
    import unittest
    suite = unittest.defaultTestLoader.discover(str(BENCH_DIR),
                                                pattern="test_*.py")
    if not unittest.TextTestRunner(stream=sys.stderr).run(suite)\
            .wasSuccessful():
        return 1
    try:
        classes = build.build(root)
    except build.BuildError as e:
        log(str(e))
        return 2
    return subprocess.run(
        ["java"] + JAVA_FLAGS
        + ["-cp", build.classpath(root, classes), "etlbench.SelfTest"],
        stdout=subprocess.DEVNULL).returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
