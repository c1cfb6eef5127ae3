"""Lifecycle benchmark of the graft survey and corpus pipelines.

    python3 perfbench/run.py --workload survey_queue --seed 3 --seconds 1 --trace 0
    python3 perfbench/run.py --self-test

Builds the program from source (perfbench/build.py), runs one workload in a
fresh JVM (perfbench.Main), checks its outputs, and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("survey_queue", "corpus_curate")
SURVEY_SPANS = ("etl.clean", "cluster.prepare", "cluster.kmeans_search",
                "cluster.kmodes", "cluster.rules", "cluster.lca",
                "inference.deliver_stats", "metrics.consistency",
                "metrics.segment", "pipeline.sink", "pipeline.queue")
CORPUS_SPANS = ("text.clean", "dedup.exact", "dedup.simhash_pairs",
                "dedup.edit_verify", "dedup.canonicalize",
                "dedup.decontaminate", "text.quality", "etl.sample")
SPAN_COUNTERS = ("self_s", "jobs", "task_run_s", "driver_only_s")
PINS = os.path.join(HERE, "pins.json")
RUN_TIMEOUT_S = 175
# -UsePerfData: the JVM would otherwise write its perf counters outside
# the checkout
JVM_OPTS = ["-Xss16m", "-Xmx3g", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(result):
    """Item metrics are medians over the run's items: a survey run measures
    one item, a corpus run two or three."""
    items = result["items"]
    return {
        "wall_s": metric(statistics.median(i["wall_s"] for i in items), "s"),
        "rows_per_s": metric(statistics.median(
            i["rows"] / i["wall_s"] for i in items), "1/s"),
        "setup_s": metric(result["session_s"] + result["gen_s"]
                          + result["warm_up_s"], "s"),
    }


def per_layer(result, trace):
    traced = [i for i in result["items"] if i["kind"] == "traced"]
    untraced = [i for i in result["items"] if i["kind"] == "untraced"]
    out = {}
    by_span = spans.span_metrics(trace, SURVEY_SPANS + CORPUS_SPANS)
    for name, m in by_span.items():
        for counter in SPAN_COUNTERS:
            unit = "count" if counter == "jobs" else "s"
            out[f"{name}.{counter}"] = metric(m[counter], unit)
    out["inference.deliver_stats.result_mb"] = metric(
        by_span["inference.deliver_stats"]["result_mb"], "MiB")
    out["engine.peak_rss_mb"] = metric(result["peak_rss_mb"], "MiB")
    windows = [tuple(i["window_ms"]) for i in traced]
    for k, v in spans.engine_metrics(trace, windows, result["cores"]).items():
        unit = ("count" if k in ("jobs", "stages", "tasks") else
                "fraction" if k == "core_util" else
                "MiB" if k.endswith("_mb") else "s")
        out[f"engine.{k}"] = metric(v, unit)
    stats = traced[0]["stats"] if traced else {}
    out["cluster.kmeans_search.balanced_frac"] = metric(
        stats.get("balanced_frac", 0.0), "fraction")
    out["dedup.edit_verify.confirm_frac"] = metric(
        stats.get("confirm_frac", 0.0), "fraction")
    t_wall = sum(i["wall_s"] for i in traced)
    u_wall = sum(i["wall_s"] for i in untraced)
    out["trace.traced_wall_s"] = metric(t_wall, "s")
    out["trace.untraced_wall_s"] = metric(u_wall, "s")
    out["trace.overhead_s"] = metric(t_wall - u_wall, "s")
    return out


def pin_failures(workload, seed, digests, pins):
    """Digests that differ from the pinned ones for this seed."""
    pinned = pins.get(workload, {}).get(str(seed))
    if pinned is None:
        return []
    return [f"{k}: {digests.get(k)} != pinned {v}"
            for k, v in sorted(pinned.items()) if digests.get(k) != v]


def item_digests(result, item):
    return dict(item["digests"], input=result["input_digest"])


def score(result, pins):
    """(correct, attempted, failed, failure messages)."""
    messages = list(result["run_failures"])
    failed = 0
    for item in result["items"]:
        bad = item["failures"] + pin_failures(
            result["workload"], result["seed"], item_digests(result, item), pins)
        messages += [f"{item['kind']}: {m}" for m in bad]
        failed += bool(bad)
    attempted = len(result["items"])
    if result["run_failures"]:
        failed = attempted
    return not messages, attempted, failed, messages


def load_pins():
    if not os.path.exists(PINS):
        return {}
    with open(PINS) as fh:
        return json.load(fh)


def run_jvm(classpath, args, work):
    """Run perfbench.Main in `work`; returns its exit code."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp",
                                  classpath] + args)
    return subprocess.run(cmd, stdout=subprocess.DEVNULL,
                          timeout=RUN_TIMEOUT_S, cwd=work).returncode


def self_test():
    import unittest
    suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"))
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    classpath = build.build()
    rc = subprocess.run(["java"] + JVM_OPTS + ["-cp", classpath,
                                               "perfbench.SelfTest"]).returncode
    return 0 if ok and rc == 0 else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 1
    work = os.path.join(build.ROOT, ".bench_build", "work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc = run_jvm(classpath, [
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work], work)
        if rc != 0:
            print(f"[perfbench] run failed with exit code {rc}", file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as fh:
            result = json.load(fh)
        trace = None
        if a.trace:
            with open(os.path.join(work, "trace.json")) as fh:
                trace = json.load(fh)
            keep = os.path.join(build.ROOT, ".bench_build", "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(keep, f"{a.workload}-seed{a.seed}.json"))
    except subprocess.TimeoutExpired:
        print("[perfbench] run timed out", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct, attempted, failed, messages = score(result, load_pins())
    for m in messages:
        print(f"[perfbench] FAIL {m}", file=sys.stderr)
    digests = item_digests(result, result["items"][0])
    print(f"[perfbench] {a.workload} seed={a.seed} digests "
          + " ".join(f"{k}={v}" for k, v in sorted(digests.items()))
          + " stats " + json.dumps(result["items"][0]["stats"]))
    metrics = per_layer(result, trace) if a.trace else end_to_end(result)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
