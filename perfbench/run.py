#!/usr/bin/env python3
"""Benchmark of the graft engine: one command per workload run.

    python3 perfbench/run.py --workload kg_extract --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the harness and the
engine from source with sbt (perfbench/build.sbt), then the harness runs
the workload in one JVM and this script turns its raw result into metrics.
Progress and the JVM's output go to stderr; the last line of stdout is one
JSON object with `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see perfbench/README.md).
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import metrics  # noqa: E402

# Input sizes per workload. kg_extract and mtb_build read the same page
# table, so one table per seed serves both.
PAGES = 8000
WARM_PAGES = 500
SETUPS = 2
HEAP = "3g"
JVM_TIMEOUT_S = 170
TINY = {"pages": 1500, "warm_pages": 200, "setups": 2,
        "queries": ("q06_events_hourly", "q18_minhash_clusters", "q51_stream_sessions")}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources(root):
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)


def ensure_built(root, jars):
    """Compiles the harness and the engine when a source is newer than the
    last build; returns the classes directory."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    newest = max(os.path.getmtime(p) for p in sources(root))
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest:
        return classes
    log("building the harness and the engine with sbt")
    t0 = time.time()
    tmp = os.path.join(HERE, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's scratch files go under the checkout too, and the JVMs that sbt
    # starts keep no performance data files
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
                    f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", f"-Dsbt.ipcsocket.tmpdir={tmp}",
                    f"-Dperfbench.sparkJars={jars}", "compile"],
                   cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, check=True,
                   stdin=subprocess.DEVNULL, env=env)
    with open(stamp, "w") as f:
        f.write(f"{time.time()}\n")
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def spark_jars(root):
    """Spark's jars directory: $SPARK_HOME/jars, else the `unmanagedBase`
    of the engine's own build.sbt."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else None


def leg(args, workload):
    """The arguments of one harness JVM of this run."""
    return argparse.Namespace(**dict(vars(args), workload=workload))


def sizes(args):
    return TINY if args.tiny else {"pages": PAGES, "warm_pages": WARM_PAGES, "setups": SETUPS,
                                   "queries": metrics.BATTERY_QUERIES}


def harness_cmd(args, classes, out, work, cache):
    size = sizes(args)
    # the mtb leg of a traced run reports no set-up time, so it sets up once
    setups = 1 if args.workload == "mtb_build" else size["setups"]
    jvm = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}{os.pathsep}{os.path.join(args.jars, '*')}", "perfbench.Harness"]
    return jvm + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--out", out, "--work", work, "--cache", cache,
        "--data", os.path.abspath(args.digest_dir) if args.digest_dir
        else os.path.join(HERE, "data", "sf0.01"),
        "--expected", os.path.join(HERE, "expected", "battery_sf0.01.json"),
        "--golden", os.path.join(args.root, "src", "test", "resources", "golden",
                                 "text_norm.golden.jsonl"),
        "--pages", str(size["pages"]), "--warm-pages", str(size["warm_pages"]),
        "--setups", str(setups), "--queries", ",".join(size["queries"]),
    ]


def run_jvm(cmd, cwd, deadline):
    # Spark binds to the loopback interface, so it needs neither a
    # resolvable host name nor a network
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, env=env)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log(f"the run exceeded {JVM_TIMEOUT_S} s; stopping the harness")
        proc.kill()
        proc.wait()
        return None


def summarize(raw):
    log(f"workload={raw['workload']} seed={raw['seed']} trace={int(raw['trace'])} "
        f"nproc={raw['nproc']} run_id={raw['run_id']}")
    for k, v in raw["info"].items():
        log(f"  info {k} = {v}")
    wide = [o["wall_s"] for o in raw["ops"] if o["leg"] == "wide"]
    if wide:
        q = benchlib.supported_percentile(len(wide))
        tail = f", p{q} {benchlib.percentile(wide, q):.4f} s" if q and q > 50 else ""
        log(f"  wide-leg ops: {len(wide)} samples, p50 {benchlib.median(wide):.4f} s{tail}")
    for c in raw["checks"]:
        if not c["ok"]:
            log(f"  FAILED check {c['name']}: {c['detail']}")
    for o in raw["ops"]:
        if not o["ok"]:
            log(f"  FAILED op {o['tag']}: {o.get('error', '')}")


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs, for the smoke tests")
    p.add_argument("--digest-dir", metavar="DIR",
                   help="instead of a workload, write the battery's expected digests "
                        "from the per-query parquet outputs in DIR (graft.Verify's layout)")
    args = p.parse_args(argv)
    args.root = os.getcwd()
    if args.digest_dir:
        args.workload = "digest-dir"
    elif args.workload is None or not args.seconds:
        p.error("--workload, --seed and --seconds are required")

    bench_path = os.path.join(args.root, "BENCHMARK.json")
    bench = benchlib.load_benchmark(bench_path)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names + ["digest-dir"]:
        log(f"unknown workload {args.workload}; BENCHMARK.json has {names}")
        return 2
    if not os.path.isdir(os.path.join(args.root, "src", "main", "scala", "graft")):
        log("the engine's sources (src/main/scala/graft) are not here; run from a checkout root")
        return 2
    args.jars = spark_jars(args.root)
    if not args.jars or not os.path.isdir(args.jars):
        log("Spark's jars not found: set SPARK_HOME")
        return 2

    classes = ensure_built(args.root, args.jars)
    work_root = os.path.join(HERE, ".work")
    cache = os.path.join(work_root, "cache")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "raw.json")
    deadline = time.time() + JVM_TIMEOUT_S
    try:
        warm = os.path.join(cache, f"warm-n{sizes(args)['warm_pages']}.parquet", "_SUCCESS")
        if args.workload == "kg_extract" and not os.path.exists(warm):
            # written by a JVM of its own, so the measured JVM starts cold
            log("writing the warm-up page table")
            run_jvm(harness_cmd(leg(args, "warm-table"), classes, out, work, cache), work, deadline)
            if not os.path.exists(warm):
                log("could not write the warm-up page table")
                return 3
        # the traced kg_extract run also times the MtbDataset chain, in a
        # JVM of its own on the same page table, for the mtb.* metrics
        legs = [args.workload] + (["mtb_build"] if args.workload == "kg_extract" and args.trace else [])
        raws = []
        for name in legs:
            code = run_jvm(harness_cmd(leg(args, name), classes, out, work, cache), work, deadline)
            if code != 0 or not os.path.exists(out):
                log(f"harness exited with {code} and no result")
                return 3
            if args.digest_dir:
                log("wrote perfbench/expected/battery_sf0.01.json")
                return 0
            with open(out) as f:
                raws.append(json.load(f))
            # the run's artifact: spans, stage metrics, samples, seed and checks
            os.replace(out, os.path.join(work_root, f"raw-{name}-{args.seed}-{args.trace}.json"))
        attempted = failed = 0
        for raw in raws:
            summarize(raw)
            a, f = metrics.failures(raw)
            attempted, failed = attempted + a, failed + f
        log(f"error_rate = {failed / attempted:.4f} ({failed} of {attempted})")
        try:
            pairs = metrics.per_layer(raws) if args.trace else metrics.end_to_end(raws[0])
        except (KeyError, ValueError, ZeroDivisionError, IndexError) as e:
            log(f"could not compute metrics: {e!r}")
            return 4
        mets = {k: {"value": v, "unit": u} for k, (v, u) in pairs.items()}
        problems = benchlib.validate_metrics(mets, bench, bool(args.trace))
        for name, (value, unit) in pairs.items():
            print(f"{name} = {value:.6g} {unit}")
        if problems:
            for pr in problems:
                log(pr)
            return 5
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": mets}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
