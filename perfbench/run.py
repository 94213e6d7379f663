#!/usr/bin/env python3
"""graft benchmark: build, generate seeded inputs, run one workload, check it.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload wrds_refresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke              # tiny scale, all workloads, ~1 min
    python3 perfbench/run.py --repeat 5 --workload corpus_dedup --seconds 10
                                                  # median and quartiles over seeds

A run compiles graft's ``src/main/scala`` together with the harness in
``perfbench/scala`` (cached by source hash), writes the workload's inputs
with ``perfbench/gen.py``, starts a throwaway PostgreSQL cluster for
``wrds_refresh``, and drives the workload in one JVM for ``--seconds``.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). The line before
it carries the run's context and every workload-specific figure.

Everything is written under ``$CARGO_TARGET_DIR`` (default ``.bench_build``)
in the checkout.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("wrds_refresh", "corpus_dedup")
RUN_LIMIT_S = 170  # a run must end within 180 s once built
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise BenchError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ host


def host():
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # the Tier-1 verify line's driver heap: MemTotal / 2, clamped to 2..8 GB
    heap_g = min(8, max(2, mem_kb // 2097152))
    return dict(nproc=cpus, mem_total_kb=mem_kb, heap=f"{heap_g}g")


# ----------------------------------------------------------------- build


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not main:
        raise BenchError("no graft sources under src/main/scala: run from a graft checkout")
    return main + harness


def build(bdir):
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(bdir, f"classes-{digest}")
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes, digest
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(files)} sources")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + files
    p = subprocess.run(cmd, cwd=bdir, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BenchError("compile failed:\n" + p.stdout[-4000:])
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, digest


# ---------------------------------------------------------------- inputs


def inputs(bdir, workload, seed, scale):
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        gen_hash = hashlib.sha256(fh.read()).hexdigest()[:8]
    d = os.path.join(bdir, "inputs", f"{workload}-s{seed}-x{scale:g}-{gen_hash}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                        "--seed", str(seed), "--scale", repr(scale), "--out", tmp], check=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return manifest


# ------------------------------------------------------------ PostgreSQL

AS_NOBODY = ["unshare", "-U", "--map-user=65534", "--map-group=65534"]


class Postgres:
    """A throwaway cluster run as 'nobody' over a unix socket. The server
    refuses to run as root; a user namespace that maps the caller to
    'nobody' keeps its files inside the checkout."""

    def __init__(self, bdir, run_dir):
        self.template = os.path.join(bdir, "pg-template")
        self.root = os.path.join(run_dir, "pg")
        self.data = os.path.join(self.root, "data")
        self.sock = os.path.join(self.root, "sock")
        if len(self.sock) > 90:
            raise BenchError(f"socket path too long for PostgreSQL: {self.sock}")

    def start(self):
        if not os.path.exists(os.path.join(self.template, "PG_VERSION")):
            shutil.rmtree(self.template, ignore_errors=True)
            tmp = self.template + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            p = subprocess.run(AS_NOBODY + ["initdb", "-D", tmp, "-A", "trust", "-U", "nobody",
                                            "-E", "UTF8", "--locale=C"],
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if p.returncode != 0:
                raise BenchError("initdb failed:\n" + p.stdout[-2000:])
            os.rename(tmp, self.template)
        os.makedirs(self.root)
        shutil.copytree(self.template, self.data, symlinks=True)
        os.chmod(self.data, 0o700)
        os.makedirs(self.sock)
        p = subprocess.run(AS_NOBODY + [
            "pg_ctl", "-D", self.data, "-w", "-t", "60", "-l", os.path.join(self.root, "pg.log"),
            "-o", f"-c listen_addresses= -c unix_socket_directories={self.sock}", "start"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            raise BenchError("pg_ctl start failed:\n" + p.stdout[-2000:])

    def stop(self):
        pidfile = os.path.join(self.data, "postmaster.pid")
        if not os.path.exists(pidfile):
            return
        with open(pidfile) as fh:
            pid = int(fh.readline().strip())
        try:
            os.kill(pid, signal.SIGINT)  # fast shutdown
        except ProcessLookupError:
            return
        deadline = time.time() + 30
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)
            while os.path.exists(f"/proc/{pid}"):
                time.sleep(0.05)


# ------------------------------------------------------------------- JVM


def jvm(classes, heap, run_dir, args, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{os.path.join(spark_jars(), '*')}", "graft.perfbench.Harness"] + args
    logfile = os.path.join(run_dir, "jvm.log")
    with open(logfile, "w") as fh:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(5.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    with open(logfile, errors="replace") as fh:
        out = fh.read()
    for line in out.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if p.returncode != 0:
        raise BenchError(f"harness JVM exited {p.returncode}:\n" + out[-4000:])


# ------------------------------------------------------------------ run


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return b["end_to_end"], b["per_layer"]


def run_once(a):
    t_start = time.time()
    end_to_end, per_layer = declared()
    h = host()
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    classes, digest = build(bdir)
    t_built = time.time()
    manifest = inputs(bdir, a.workload, a.seed, a.scale)
    with open(manifest) as fh:
        input_hash = json.load(fh)["input_hash"]
    run_dir = os.path.join(bdir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pg = None
    try:
        args = ["--workload", a.workload, "--manifest", manifest, "--work", os.path.join(run_dir, "work"),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(h["nproc"]),
                "--out", os.path.join(run_dir, "result.json")]
        if a.workload == "wrds_refresh":
            pg = Postgres(bdir, run_dir)
            pg.start()
            args += ["--pg-socket", pg.sock]
        budget = RUN_LIMIT_S - (time.time() - t_built) - 10
        jvm(classes, h["heap"], run_dir, args, timeout=budget)
        with open(os.path.join(run_dir, "result.json")) as fh:
            r = json.load(fh)
        spans = os.path.join(run_dir, "spans.json")
        if os.path.exists(spans):
            keep = os.path.join(bdir, "traces", f"{a.workload}-s{a.seed}.spans.json")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(spans, keep)
    finally:
        if pg is not None:
            pg.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    values = dict(r["end_to_end"], setup_s=r["setup_s"])
    if a.trace:
        layers = r["layers"]
        wanted = per_layer
        values = {m["name"]: layers.get(m["name"], 0.0) for m in per_layer}
    else:
        wanted = end_to_end
    metrics = {}
    ok = True
    for m in wanted:
        v = values.get(m["name"])
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            log(f"metric {m['name']} missing or not finite: {v}")
            ok = False
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = ok and r["failed"] == 0 and r["attempted"] > 0
    context = dict(
        workload=a.workload, seed=a.seed, scale=a.scale, seconds=a.seconds, trace=a.trace,
        nproc=h["nproc"], mem_total_kb=h["mem_total_kb"], heap=h["heap"],
        commit=commit(), source_hash=digest, input_hash=input_hash,
        cycles=r["cycles"], traced_cycles=r["traced_cycles"],
        cycle_values=r["cycle_values"], errors=r["errors"], detail=r["detail"],
        wall_s=round(time.time() - t_start, 3))
    if a.trace:
        context["layers"] = r["layers"]
    return dict(correct=correct, attempted=r["attempted"], failed=r["failed"], metrics=metrics), context


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() or None


# ------------------------------------------------------- smoke and repeat


def child(workload, seed, seconds, trace, scale):
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--scale", repr(scale)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise BenchError(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1]), json.loads(lines[-2].split(" ", 1)[1])


def smoke(a):
    """Every workload at a tiny scale, output checks included."""
    ok = True
    for w in WORKLOADS:
        res, ctx = child(w, a.seed, 1, 0, 0.1)
        log(f"smoke {w}: correct={res['correct']} attempted={res['attempted']} "
            f"failed={res['failed']} cycles={ctx['cycles']}+{ctx['traced_cycles']} errors={ctx['errors'][:3]}")
        ok = ok and res["correct"]
    print(json.dumps({"smoke": "pass" if ok else "fail"}))
    return 0 if ok else 1


def repeat(a):
    """N runs on consecutive seeds: median and quartile spread per metric."""
    vals = {}
    for i in range(a.repeat):
        res, ctx = child(a.workload, a.seed + i, a.seconds, a.trace, a.scale)
        log(f"{a.workload} seed {a.seed + i}: correct={res['correct']} "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
        for k, v in res["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
    summary = {}
    for k, xs in vals.items():
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        summary[k] = dict(median=med, q1=q1, q3=q3, iqr_share=(q3 - q1) / med if med else None, n=len(xs))
        print(f"{k:40s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  iqr/median {summary[k]['iqr_share']:.4f}",
              file=sys.stderr)
    print(json.dumps(summary, sort_keys=True))
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--repeat", type=int, default=0)
    a = ap.parse_args()
    try:
        if a.smoke:
            return smoke(a)
        if not a.workload:
            ap.error("--workload is required")
        if a.repeat:
            return repeat(a)
        result, context = run_once(a)
    except BenchError as e:
        log(str(e))
        return 2
    print("perfbench-context " + json.dumps(context, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
