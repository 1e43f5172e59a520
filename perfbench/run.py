#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <stream_json|grpc_ack|catalog_slice>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the program and the harness from
source into $CARGO_TARGET_DIR (default .bench_build), runs each workload
phase in its own JVM on local[nproc], checks every output, and prints one
JSON object as the last line of stdout: the end-to-end metrics of
BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1). See
perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
DEADLINE_S = 170  # every run must end within 180 s
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
HEAP = "2g"

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

# Gated end-to-end metrics, from the named metrics each workload reports.
# op_p50_ms is the median latency of one committed pushed batch
# (stream_json), one push+flush round trip (grpc_ack) or one timed pass over
# the slice (catalog_slice: the batch job). Tail percentiles stay in the
# detail line: at ~45 s a run (22 runs per workload within the hour), only
# stream_json has ten samples beyond its p90.
GENERIC = {
    "stream_json": {"op_p50_ms": "commit_p50_ms", "throughput_per_s": "catchup_rps"},
    "grpc_ack": {"op_p50_ms": "ack_p50_ms_c1", "throughput_per_s": "acked_rps_c1"},
    "grpc_ack_c4": {"op_p50_ms": "ack_p50_ms_c4", "throughput_per_s": "acked_rps_c4"},
    "catalog_slice": {"op_p50_ms": "pass_p50_ms", "throughput_per_s": "entries_per_s"},
}


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def jars_dir():
    """The Spark jar directory the sbt build declares (unmanagedBase)."""
    try:
        sbt = open(os.path.join(ROOT, "build.sbt")).read()
    except OSError:
        fail("no build.sbt here: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt declares no usable unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not main or not bench:
        fail("program or harness sources missing")
    return main + bench


def build(jars):
    """Compile program + harness with scalac unless the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))[0]
                for n in ("compiler", "library", "reflect")]
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main",
         "-nowarn", "-usejavacp:false", "-classpath", os.path.join(jars, "*"), "-d", tmp,
         "@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(classes, jars, work, args, timeout):
    """Run one workload phase in its own JVM; returns its result dict or None."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graftbench.Main", "--out", out, "--work", work] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            p.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    try:
        res = json.load(open(out))
    except (OSError, ValueError):
        return None
    res["exit_code"] = p.returncode
    return res


def load_spec():
    try:
        return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    except (OSError, ValueError):
        fail("BENCHMARK.json missing or unreadable")


def run_workload(args, spec, classes, jars):
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_dir = os.path.join(BUILD, "trace", args.workload)
    if args.trace:
        shutil.rmtree(trace_dir, ignore_errors=True)
    extra = []
    gen_s = 0.0
    if args.workload == "catalog_slice":
        import catalog_data
        data = os.path.join(work, "data")
        os.makedirs(data)
        t0 = time.time()
        catalog_data.generate(data, args.seed)
        gen_s = time.time() - t0
        extra = ["--data", data]
    res = jvm(classes, jars, work,
              ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--trace-dir", trace_dir] + extra,
              DEADLINE_S - (time.time() - T_START) - 8)
    notes = []
    if res is None:
        res = {"attempted": 0, "failed": 0, "correct": False, "metrics": {}, "layers": {},
               "samples": {}, "notes": {}, "finished": False}
        notes.append("the JVM wrote no result")
    if not res.get("finished"):
        # the JVM died or timed out: nothing it did was checked
        res["correct"] = False
        res["attempted"] = max(1, res["attempted"])
        res["failed"] = res["attempted"]
        notes.append(f"phase did not finish (exit code {res.get('exit_code')}); see {work}/jvm.log")
        sys.stderr.write(open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:])
    if "setup_s" in res["metrics"]:
        res["metrics"]["setup_s"] += gen_s
    if args.workload == "catalog_slice" and res.get("finished"):
        import oracle
        fails = oracle.check_run(os.path.join(work, "data"), work)
        if fails:
            # every timed execution of an entry whose output is wrong fails
            passes = res["samples"].get("catalog_s", 1)
            res["failed"] += len(fails) * passes
            res["correct"] = False
            notes.append(f"oracle mismatches: {fails}")
    res.setdefault("notes", {})["launcher"] = notes
    if args.trace:
        write_trace_table(args, spec, res, trace_dir)
    else:
        os.makedirs(os.path.join(BUILD, "last"), exist_ok=True)
        json.dump(res, open(os.path.join(BUILD, "last", f"{args.workload}.json"), "w"))
    if res.get("finished"):
        shutil.rmtree(work, ignore_errors=True)
    return res


def write_trace_table(args, spec, res, trace_dir):
    """The traced run's layer breakdown as data, with the tracing overhead
    against the last untraced run of the same workload in this checkout."""
    os.makedirs(trace_dir, exist_ok=True)
    moves = json.load(open(os.path.join(HERE, "layers.json")))
    table = {m["name"]: {"value": res["layers"].get(m["name"]), "unit": m["unit"],
                         **moves.get(m["name"], {})} for m in spec["per_layer"]}
    overhead = {}
    try:
        base = json.load(open(os.path.join(BUILD, "last", f"{args.workload}.json")))
        for k, v in res["metrics"].items():
            b = base["metrics"].get(k)
            if isinstance(b, (int, float)) and isinstance(v, (int, float)) and b:
                overhead[k] = {"untraced": b, "traced": v, "ratio": v / b}
    except (OSError, ValueError, KeyError):
        overhead = "no untraced run of this workload in this checkout yet"
    json.dump({"workload": args.workload, "seed": args.seed, "layers": table,
               "self_time": res["notes"].get("layer_self_time"),
               "tracing_overhead": overhead}, open(os.path.join(trace_dir, "layers.json"), "w"),
              indent=1)


def selftest(spec, classes, jars):
    """Every output check must fail on a planted mismatch."""
    import oracle
    work = os.path.join(BUILD, "work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = jvm(classes, jars, work, ["--workload", "selftest", "--seed", "1", "--seconds", "1"], 170)
    cases = {k: v for k, v in (res or {}).get("notes", {}).items() if k.startswith(("stream", "grpc"))}
    cases.update(oracle.selftest(os.path.join(work, "oracle")))
    names = {m["name"] for m in spec["per_layer"]}
    moves = set(json.load(open(os.path.join(HERE, "layers.json"))))
    cases["layers_json_matches_spec"] = "ok" if names == moves else f"WRONG: {names ^ moves}"
    for k, v in sorted(cases.items()):
        print(f"{k}: {v}")
    ok = len(cases) >= 11 and all(v == "ok" for v in cases.values())
    print("selftest " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    spec = load_spec()
    jars = jars_dir()
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars)
    if args.selftest:
        selftest(spec, classes, jars)
    if args.workload not in GENERIC:
        fail(f"unknown workload {args.workload!r}")
    res = run_workload(args, spec, classes, jars)

    named = dict(res["metrics"])
    for gen, src in GENERIC[args.workload].items():
        named[gen] = named.get(src)
    if args.trace:
        # a layer a workload does not exercise reads 0
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"]) or 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": named.get(m["name"]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        missing = [k for k, v in metrics.items() if not isinstance(v["value"], (int, float))]
        if missing:
            res["correct"] = False
            res["failed"] = max(res["failed"], 1)
            for k in missing:
                metrics[k]["value"] = 0.0
    detail = {"workload": args.workload, "seed": args.seed, "metrics": res["metrics"],
              "samples": res.get("samples", {}), "notes": res.get("notes", {})}
    print("detail " + json.dumps(detail, default=str))
    print(json.dumps({"correct": bool(res["correct"]) and res["failed"] == 0,
                      "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
