#!/usr/bin/env python3
"""spark-graft benchmark: one seeded workload per run, timed end to end
and, traced, split by layer.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Builds the engine (`src/main/scala`) and the client (`perfbench/scala`)
with scalac straight onto the Spark jars, generates the base tables and
the run's inputs, launches one client JVM, checks every result and
prints one JSON line: `{"correct", "attempted", "failed", "metrics"}`.
`--workload all` runs every workload untraced and traced and prints a
report with every figure, the tracing overhead and host contention.
Everything it writes stays under `perfbench/.work/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
READ_SF = 0.01    # read_mix store and the pipeline corpus source
INGEST_SF = 0.001  # ingest_merge store
CORES = min(4, len(os.sched_getaffinity(0)))
HEAP = "3g"


def _spark_jars():
    """Spark's jars (the Scala compiler included): $SPARK_HOME/jars, else
    the first `<dir>/../jars` holding spark-core for a `<dir>` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(":")]
    for h in homes:
        if h and glob.glob(os.path.join(h, "jars", "spark-core_*.jar")):
            return os.path.join(h, "jars")
    return os.path.join(homes[0], "jars")


SPARK_JARS = _spark_jars()
# build.sbt's javaOptions: JDK 17 module opens for Spark, UTC, no UI
ADD_OPENS = [a for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
WORKLOADS = ["read_mix", "ingest_merge", "pipeline_batch"]
SETUPS = 3  # set-ups per run; setup_s takes their median
PASSES_PER_CYCLE = 2  # pipeline_batch: the second pass must reproduce the first
DEADLINE_S = 170


class BenchError(RuntimeError):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _scalac(classpath, out, sources):
    """Compile `sources` into the jar `out` (class-data sharing archives
    only jars, never class directories)."""
    classes = out + ".classes"
    os.makedirs(classes, exist_ok=True)
    jar = lambda n: os.path.join(SPARK_JARS, f"{n}-2.13.17.jar")  # noqa: E731
    args = out + ".args"
    with open(args, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp",
           ":".join(jar(n) for n in ("scala-compiler", "scala-library",
                                     "scala-reflect")),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", classes, "@" + args]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode:
        raise BenchError(f"scalac failed:\n{p.stdout[-3000:]}{p.stderr[-3000:]}")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)


def build():
    """Compile engine + client once per source content; → build dir."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    client = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not engine or not client:
        raise BenchError("engine sources (src/main/scala) or client sources "
                         "(perfbench/scala) not found")
    h = hashlib.sha256()
    for f in engine + client:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(WORK, "build", h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "ok")):
        for old in glob.glob(os.path.join(WORK, "build", "*")):
            shutil.rmtree(old)
        t = time.time()
        _scalac(os.path.join(SPARK_JARS, "*"), os.path.join(out, "engine.jar"),
                engine)
        _scalac(os.path.join(out, "engine.jar") + ":" + os.path.join(SPARK_JARS, "*"),
                os.path.join(out, "client.jar"), client)
        open(os.path.join(out, "ok"), "w").close()
        log(f"built engine + client in {time.time() - t:.0f} s")
    return out


def base_data(name, sf):
    d = os.path.join(WORK, "data", name)
    if not os.path.exists(os.path.join(d, "ok")):
        datagen.base_tables(d, sf)
        open(os.path.join(d, "ok"), "w").close()
    return d


# -------------------------------------------------------------------- jvm

def jvm(build_dir, mode, props, seconds, trace, out_dir, home, deadline,
        cds="use"):
    """Run the client JVM; `cds` = "use" the build's class-data sharing
    archive when present, or "dump" it at exit (the prepare run)."""
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    props = dict(props, cores=CORES, local_dir=os.path.join(tmp, "spark"))
    pf = os.path.join(out_dir, "run.properties")
    with open(pf, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in props.items())
    cp = ":".join([os.path.join(build_dir, "client.jar"),
                   os.path.join(build_dir, "engine.jar"),
                   os.path.join(SPARK_JARS, "*")])
    jsa = os.path.join(build_dir, "classes.jsa")
    share = ([f"-XX:ArchiveClassesAtExit={jsa}"] if cds == "dump" else
             [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}"] + share + ADD_OPENS +
           [f"-Duser.home={home}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main", mode, pf, str(seconds), str(trace),
            out_dir])
    logf = os.path.join(out_dir, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"{mode} JVM timed out; log: {logf}")
        finally:  # never leave the JVM behind (timeout, SIGTERM, ^C)
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc:
        with open(logf) as f:
            tail = f.read()[-4000:]
        raise BenchError(f"{mode} JVM exited {rc}:\n{tail}")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def prepare(build_dir, deadline):
    """Untimed, once per engine build: build the read and ingest stores'
    ETL layouts under a user.home of the benchmark's own, and dump the JVM's
    class-data sharing archive (JVM + Spark start-up drops from about
    8 s to 3.5 s on a 4-core host)."""
    marker = os.path.join(WORK, "state", f"read-{os.path.basename(build_dir)}.ok")
    home = os.path.join(WORK, "state", "home")
    if not os.path.exists(marker):
        shutil.rmtree(home, ignore_errors=True)
        stores = [base_data("read", READ_SF), base_data("ingest", INGEST_SF)]
        res = jvm(build_dir, "prepare", {"stores": ",".join(stores)}, 0, 0,
                  os.path.join(WORK, "state", "prepare"), home, deadline,
                  cds="dump")
        log(f"warm stores built in {res['setup_runs_s'][0]:.0f} s")
        for old in glob.glob(os.path.join(WORK, "state", "read-*.ok")):
            os.remove(old)
        open(marker, "w").close()
    return home


# -------------------------------------------------------------- workloads

def run_read_mix(b, seed, seconds, trace, run_dir, deadline, probe=False):
    """`probe`: also send datagen.ntriples_probe after the window."""
    read_base = base_data("read", READ_SF)
    home = os.path.join(WORK, "state", "home")
    reqs = datagen.read_requests(seed, read_base)
    with open(os.path.join(run_dir, "requests.tsv"), "w") as f:
        f.write(datagen.requests_tsv(reqs))
    with open(os.path.join(run_dir, "warmup.tsv"), "w") as f:
        f.write(datagen.requests_tsv(datagen.warmup_requests(read_base)))
    probe_req = datagen.ntriples_probe(read_base) if probe else None
    if probe_req:
        with open(os.path.join(run_dir, "probe.tsv"), "w") as f:
            f.write(datagen.requests_tsv([probe_req]))
    res = jvm(b, "read_mix", {
        "store": read_base, "setups": SETUPS, "cycle": len(datagen.CLASS_CYCLE),
        "requests": os.path.join(run_dir, "requests.tsv"),
        "warmup": os.path.join(run_dir, "warmup.tsv"),
        "probe": os.path.join(run_dir, "probe.tsv") if probe_req else ""},
        seconds, trace, run_dir, home, deadline)
    o = oracle.Oracle(read_base)
    wrong = oracle.check_read(o, reqs, res["ops"])
    if probe_req:
        p = res["probe"]
        res["probe_status"] = (
            f"fails: {p['error'][:200]}" if p["error"] else
            "wrong result" if oracle.check_read(o, [probe_req], [p]) else "passes")
    return res, wrong


def run_ingest_merge(b, seed, seconds, trace, run_dir, deadline):
    base = base_data("ingest", INGEST_SF)
    batches = datagen.ingest_batches(seed, base)
    lines = []
    for i, bt in enumerate(batches):
        nt = os.path.join(run_dir, f"batch{i}.nt")
        with open(nt, "w") as f:
            f.write(bt["nt"])
        lines.append("\t".join([str(i), nt, ",".join(bt["sample"]),
                                ",".join(datagen.CHECKED_FIELDS)]))
    with open(os.path.join(run_dir, "batches.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    res = jvm(b, "ingest_merge", {
        "store": base, "setups": SETUPS, "cycle": len(datagen.BATCH_SUBJECTS),
        "etl_root": os.path.join(run_dir, "etl"),
        "writable": os.path.join(run_dir, "store"),
        "batches": os.path.join(run_dir, "batches.tsv")},
        seconds, trace, run_dir, os.path.join(WORK, "state", "home"), deadline)
    for d in ("etl", "store"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    return res, oracle.check_ingest(batches, res["warm"] + res["ops"])


def run_pipeline_batch(b, seed, seconds, trace, run_dir, deadline):
    read_base = base_data("read", READ_SF)
    docs, bench, planted, queries = datagen.corpus(seed, read_base)
    cpath = os.path.join(run_dir, "corpus.parquet")
    bpath = os.path.join(run_dir, "bench.parquet")
    datagen._write(docs, cpath)
    datagen._write(bench, bpath)
    res = jvm(b, "pipeline_batch", {
        "corpus": cpath, "bench": bpath, "setups": SETUPS,
        "cycle": PASSES_PER_CYCLE,
        "embeddings": os.path.join(read_base, "embeddings.parquet"),
        "knn_queries": ",".join(map(str, queries))},
        seconds, trace, run_dir, os.path.join(run_dir, "home"), deadline)
    o = oracle.Oracle(corpus=cpath, bench=bpath)
    return res, oracle.check_pipeline(o, planted, res["warm"] + res["ops"])


RUNNERS = {"read_mix": run_read_mix, "ingest_merge": run_ingest_merge,
           "pipeline_batch": run_pipeline_batch}


def end_to_end(res):
    """The gated figures. Throughputs are over busy time (the sum of
    operation latencies), so a run's last op overrunning the window
    does not quantize them."""
    ok = [o for o in res["ops"] if not o["error"]]
    busy_s = sum(o["ms"] for o in ok) / 1000
    rate = (lambda n: n / busy_s) if busy_s else (lambda n: 0.0)
    return {"setup_s": res["session_s"] + statistics.median(res["setup_runs_s"]),
            "ops_per_s": rate(len(ok)),
            "items_per_s": rate(sum(o["items"] for o in ok))}


def report_extras(workload, res):
    """Figures beyond the gated set, each only where the percentile rule
    supports it (None otherwise)."""
    ok = [o for o in res["ops"] if not o["error"]]

    def pct(ms, q):
        try:
            return stats.percentile(ms, q)
        except stats.TooFewSamples:
            return None
    out = {"ops": len(ok), "p50_ms": pct([o["ms"] for o in ok], 0.5),
           "p90_ms": pct([o["ms"] for o in ok], 0.9)}
    if workload == "read_mix":
        for c in datagen.KINDS:
            out[f"{c}_p50_ms"] = pct([o["ms"] for o in ok if o["cls"] == c], 0.5)
    if workload == "ingest_merge":
        in_bytes = sum(o["extra"]["input_bytes"] for o in ok)
        out["triples_per_s"] = end_to_end(res)["items_per_s"]
        out["store_bytes_per_input_byte"] = (
            res["info"]["store_growth_bytes"] / in_bytes if in_bytes else None)
    if workload == "pipeline_batch":
        out["docs_per_s"] = end_to_end(res)["items_per_s"]
        out["corpus_docs"] = res["info"]["docs"]
    return out


def run_once(workload, seed, seconds, trace, **opts):
    """Build and prepare when needed (the first run in a checkout), then
    one run of `workload` → summary with any wrong results. `opts` go to
    the workload's runner."""
    t = time.time()
    b = build()
    prepare(b, t + 800)
    # the run itself gets DEADLINE_S; build and prepare come on top
    deadline = max(t + DEADLINE_S, time.time() + DEADLINE_S - 30)
    run_dir = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    start = stats.host_stamp()
    res, wrong = RUNNERS[workload](b, seed, seconds, trace, run_dir, deadline,
                                   **opts)
    host = stats.contention(start, stats.host_stamp())
    checked = res["warm"] + res["ops"]  # untimed warm-up ops are checked too
    errors = [f"{o['id']}: {o['error']}" for o in checked if o["error"]]
    summary = {"workload": workload, "seed": seed, "trace": trace,
               "attempted": len(checked), "errors": errors, "wrong": wrong,
               "end_to_end": end_to_end(res),
               "extras": report_extras(workload, res),
               "layers": res["layers"], "host": host,
               "session_s": res["session_s"], "setup_runs_s": res["setup_runs_s"],
               "probe": res.get("probe_status")}
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    return summary


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def layer_values(traced):
    """The per-layer figures of a traced run; `trace.ops_per_s` is its
    end-to-end throughput (tracing overhead), every other name must come
    from the client."""
    return dict(traced["layers"],
                **{"trace.ops_per_s": traced["end_to_end"]["ops_per_s"]})


def result_line(spec, summary):
    if summary["trace"]:
        values, metrics = layer_values(summary), spec["per_layer"]
    else:
        values, metrics = summary["end_to_end"], spec["end_to_end"]
    failed = len(summary["errors"]) + len(summary["wrong"])
    return {"correct": failed == 0 and summary["attempted"] > 0,
            "attempted": summary["attempted"], "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in metrics}}


def report(spec, seed, seconds):
    """Every workload untraced then traced: all figures by name and unit,
    tracing overhead, host contention. Exit status 1 on any wrong result."""
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update({"p50_ms": "ms", "p90_ms": "ms", "triples_per_s": "1/s",
                  "docs_per_s": "1/s", "store_bytes_per_input_byte": "ratio",
                  "ops": "count", "corpus_docs": "count"})
    bad = 0
    for w in WORKLOADS:
        plain = run_once(w, seed, seconds, 0,
                         **({"probe": True} if w == "read_mix" else {}))
        traced = run_once(w, seed, seconds, 1)
        print(f"== {w} (seed {seed}, {seconds} s)")
        for name, v in list(plain["end_to_end"].items()) + list(plain["extras"].items()):
            unit = units.get(name, "ms" if name.endswith("_ms") else "")
            shown = "n/a (too few samples)" if v is None else f"{v:.4g}"
            print(f"  {name:32s} {shown:>14s} {unit}")
        overhead = (plain["end_to_end"]["ops_per_s"] /
                    traced["end_to_end"]["ops_per_s"] - 1) * 100
        print(f"  {'tracing overhead':32s} {overhead:14.1f} % ops_per_s")
        if plain["probe"]:
            fixed = plain["probe"] == "passes"
            print(f"  {'ntriples page probe':32s} "
                  + ("FIXED: passes, put ntriples back into "
                     "datagen.PAGE_FORMATS" if fixed else
                     f"KNOWN DEFECT, {plain['probe']}"))
        print("  layers (traced run, per operation):")
        values = layer_values(traced)
        for m in spec["per_layer"]:
            print(f"    {m['name']:34s} {values[m['name']]:14.4g} {m['unit']}")
        for s in (plain, traced):
            h = s["host"]
            print(f"  host (trace {s['trace']}): nproc {h['nproc']}, load "
                  f"{h['loadavg_start'][0]}->{h['loadavg_end'][0]}, other CPU "
                  f"{h['other_cpu_pct']}%, steal {h['steal_pct']}%")
            for msg in s["errors"] + s["wrong"]:
                print(f"  WRONG: {msg}")
                bad += 1
    return 1 if bad else 0


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        spec = load_spec()
        seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
        if a.workload == "all":
            return report(spec, a.seed, seconds)
        summary = run_once(a.workload, a.seed, seconds, a.trace)
    except (BenchError, OSError, KeyError) as e:
        log(f"failed: {e}")
        return 1
    for msg in summary["errors"] + summary["wrong"]:
        log(f"WRONG RESULT {msg}")
    line = result_line(spec, summary)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
