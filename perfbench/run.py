#!/usr/bin/env python3
"""Wire-level benchmark of the graft server.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark client from source (`sbt compile` in perfbench/). Each run then

1. writes the workload's parquet tables and request plans from the seed
   (workloads.py),
2. boots the server (`graft.server.Server`) in its own JVM, with
   local[nproc] Spark and nproc shuffle partitions,
3. drives it from a second JVM over the wire protocol as a closed loop
   (perfbench.Load): three stagings on fresh databases, a warm pass,
   then the timed phases (solo, then loaded; see Load.scala),
4. checks the results (the final `ord` against the acknowledged writes,
   the merged aggregate against DuckDB, the post-crash read-back), and
5. prints a full report line, then the result line:
   `{"correct", "attempted", "failed", "metrics"}`.

With `--trace 1` it additionally replays the same requests in-process
through each layer's public functions (perfbench.Trace) and reports the
per-layer metrics instead of the end-to-end ones. The traced run of
`point_oltp` also runs the operator batch (perfbench.Batch: SparkEntry
query rows in-process, no server), whose rows must repeat across passes
and runs of the seed. Results are also saved under perfbench/results/
for `compare.py`.
"""

import argparse
import hashlib
import json
import math
import os
import platform
import re
import select
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
import trace_report  # noqa: E402
import workloads  # noqa: E402

NPROC = os.cpu_count() or 1
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "source.sha256")
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")


def spark_jars():
    """The jar directory of the Spark install the engine builds and runs
    against: $SPARK_HOME, else the one `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark install found: set SPARK_HOME")
    return os.path.join(home, "jars")


def driver_mem():
    """Heap of the Spark JVMs: $SPARK_DRIVER_MEM, else half the host's
    memory clamped to 2..8 GB, as the repository's test runs size it."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# JVM flags build.sbt gives forked runs
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx4g")

# the gated end-to-end metrics (BENCHMARK.json); `write_ms` is reported
# but not gated: its ten-seed spread on a shared 4-vCPU VM (0.27) is above
# the largest bound a metric may have (0.25)
E2E = {"setup_s": "s", "read_ms": "ms", "ops_per_s": "1/s"}
# what a client does, by request kind: a cursor scan (begin, fetch, close)
# and a drain (begin, fetch until exhausted) count as one read each
WRITES = ("ins", "del", "insert_from", "delete_where", "merge")
READS = ("sel", "scan", "drain")


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ----

def source_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if f.endswith((".scala", ".java", ".sbt", ".properties")))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "server", "Server.scala")):
        raise BenchError("engine sources not found: run from the repository root")
    digest = source_digest()
    if os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return digest
    log("building engine and client (sbt compile)")
    env = dict(os.environ, SPARK_HOME=os.path.dirname(spark_jars()))
    env.setdefault("SBT_OPTS", SBT_OPTS)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        raise BenchError("build failed:\n" + r.stdout[-3000:])
    with open(STAMP, "w") as f:
        f.write(digest)
    return digest


# ---- processes ----

def java(main, args, work, spark=True):
    """Command and environment of a JVM; `spark` ones get the driver heap,
    the wire client a small one."""
    heap = driver_mem() if spark else "512m"
    cmd = ["java"] + JVM_FLAGS + [f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp",
                                  "-cp", f"{CLASSES}:{spark_jars()}/*", main] + args
    env = dict(os.environ, SPARK_MASTER=f"local[{NPROC}]",
               SPARK_GRAFT_SHUFFLE_PARTITIONS=str(NPROC),
               SPARK_LOCAL_DIRS=f"{work}/spark-local")
    return cmd, env


class Server:
    """The server JVM, booted from a config sexp on an ephemeral port."""

    def __init__(self, work, storage):
        self.work = work
        store = f"(disk {work}/store)" if storage == "disk" else "(memory)"
        self.config = (f"(server (storage {store}) (transport (tcp (port 0))) "
                       f"(external {work}/tables))")
        self.proc = None
        self.port = None

    def launch(self):
        cmd, env = java("graft.server.Server", [self.config], self.work)
        self.t_launch = time.time()
        self.log = open(os.path.join(self.work, "server.log"), "ab")
        self.proc = subprocess.Popen(cmd, env=env, cwd=self.work, text=True,
                                     stdout=subprocess.PIPE, stderr=self.log)

    def start(self):
        """Launch (unless launched) and wait until it listens; returns the
        boot time."""
        if self.proc is None:
            self.launch()
        ready, _, _ = select.select([self.proc.stdout], [], [], 150)
        line = self.proc.stdout.readline() if ready else ""
        m = re.search(r"listening on .*:(\d+)$", line.strip())
        if not m:
            self.stop()
            raise BenchError(f"server did not start: {line!r}")
        self.port = int(m.group(1))
        booted = time.time() - self.t_launch
        # keep draining stdout so the server can never block on a full pipe
        threading.Thread(target=self.proc.stdout.read, daemon=True).start()
        return booted

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as f:
            for ln in f:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
        return None

    def kill(self):
        """SIGKILL: no shutdown hook runs, nothing more is flushed."""
        self.proc.send_signal(signal.SIGKILL)
        self.proc.wait()
        self.log.close()

    def stop(self):
        """Once its work is done: a SIGKILL spares the seconds Spark's
        shutdown hooks take (the work directory goes anyway)."""
        if self.proc and self.proc.poll() is None:
            self.kill()
        elif self.proc:
            self.log.close()


def run_jvm(main, args, work, timeout, spark=False):
    cmd, env = java(main, args, work, spark)
    with open(os.path.join(work, main.split(".")[-1].lower() + ".log"), "ab") as lg:
        r = subprocess.run(cmd, env=env, cwd=work, stdout=lg, stderr=lg, timeout=timeout)
    if r.returncode != 0:
        raise BenchError(f"{main} exited with {r.returncode} (see {work})")


def calibrate():
    """A fixed CPU spin, in ms: a control for co-tenant load."""
    t = time.perf_counter()
    h = hashlib.sha256()
    for i in range(60000):
        h.update(b"perfbench-calibration")
    return (time.perf_counter() - t) * 1000.0


# ---- one run ----

def read_rows(path):
    with open(path) as f:
        return [tuple(int(v) for v in ln.split("\t")) for ln in f if ln.strip()]


def user_ops(ops):
    """Fold each cursor scan's begin, fetch and close into one `scan` op."""
    out = []
    for kind, ns, retries in ops:
        if kind in ("fetch", "close") and out and out[-1][0] == "scan":
            out[-1][1] += ns
        else:
            out.append(["scan" if kind == "begin" else kind, ns, retries])
    return out


def class_ms(lat, kinds):
    """Geometric mean over the kinds present of each kind's median: kinds
    differ in cost, so a median over all of them would sit wherever their
    mix puts it."""
    meds = [stats.median(lat[k]) for k in kinds if lat.get(k)]
    return math.exp(statistics.fmean(math.log(x) for x in meds)) if meds else None


def phase_seconds(workload, seconds):
    """(solo seconds, loaded seconds) of a workload's measured phase:
    `point_oltp` splits its time between one connection and one per
    stream, `durable_writes` keeps to one connection (so the store's byte
    counts belong to one client), `bulk_branch_merge` repeats its
    iteration until the time is up, at least once."""
    if workloads.WORKLOADS[workload]["loaded"]:
        return seconds / 2, seconds / 2
    return seconds, 0


def run_batch(args, work):
    """Run the operator batch in its own JVM (perfbench.Batch) and check
    its rows; returns (result, spans file, failures)."""
    tables = os.path.join(work, "batch-tables")
    workloads.write_batch_tables(args.seed, args.size, tables)
    out = os.path.join(work, "batch")
    run_jvm("perfbench.Batch", [tables, out] + [f"{m}:{q}" for m, q in workloads.BATCH_QUERIES],
            work, timeout=150, spark=True)
    with open(out + ".json") as f:
        res = json.load(f)
    failures = []
    seen = {}
    for p in (res["warm"], res["traced"]):
        for q, _, n, h in p:
            seen.setdefault(q, set()).add((n, h))
    for q, got in sorted(seen.items()):
        if len(got) != 1:
            failures.append(f"batch {q}: rows differ across passes: {sorted(got)}")
        elif min(got)[0] == 0:
            failures.append(f"batch {q}: no rows")
    check_repeat(args, "batch", json.dumps(sorted((q, min(v)) for q, v in seen.items())),
                 failures)
    return res, out + ".spans.tsv", failures


def measure(args, inputs, work):
    """Boot, drive and check the server; returns (report, failures)."""
    w = inputs.w
    tables, plans = os.path.join(work, "tables"), os.path.join(work, "plans")
    failures = []
    srv = Server(work, w["storage"])
    restore_s = None
    try:
        # the server reads the tables only when a request names them:
        # write them while it boots
        srv.launch()
        inputs.write_tables(tables)
        inputs.write_plans(plans)
        if args.trace and args.workload == "bulk_branch_merge":
            # the replay warms itself, and this wire run feeds no latency
            # figure (wire_ms wants five samples of a kind): its checks
            # need no warm iteration
            open(os.path.join(plans, "warm.txt"), "w").close()
        boot_s = srv.start()
        out = os.path.join(work, "load.json")
        solo_s, loaded_s = phase_seconds(args.workload, args.seconds)
        run_jvm("perfbench.Load", ["run", str(srv.port), plans, str(solo_s), str(loaded_s), out]
                + ([f"{work}/store"] if w["storage"] == "disk" else []),
                work, timeout=150)
        res = json.load(open(out))
        rss = srv.peak_rss_mb()
        if w["storage"] == "disk":
            srv.kill()
            srv2 = Server(work, "disk")
            try:
                srv2.start()
                rb = os.path.join(work, "readback.json")
                run_jvm("perfbench.Load", ["readback", str(srv2.port), plans, rb], work, timeout=150)
                rbres = json.load(open(rb))
                restore_s = rbres["answered_epoch_ms"] / 1000.0 - srv2.t_launch
                rss = max(rss, srv2.peak_rss_mb())
            finally:
                srv2.stop()
    finally:
        srv.stop()

    for s in res["streams"]:
        failures += [f"{s['name']}: {f}" for f in s["failures"]]
    # loaded: one connection per stream (or the bulk iterations); solo:
    # the same streams taken in turn on one connection. With one
    # connection only, its phase serves as both.
    ops = [o for s in res["streams"] if re.fullmatch(r"[wr]\d+|iter", s["name"])
           for o in s["ops"]]
    solo = [o for s in res["streams"] if s["name"].endswith(".solo") for o in s["ops"]] or ops
    ops = ops or solo

    report = {"boot_s": boot_s, "stage_s": res["stage_s"], "warm_s": res["warm_s"],
              "elapsed_s": res["elapsed_s"], "solo_s": res["solo_s"], "peak_rss_mb": rss,
              "retries": sum(o[2] for o in ops), "raw_ops": ops, "raw_solo": solo,
              "loaded": stats.by_kind_ms(user_ops(ops)), "solo": stats.by_kind_ms(user_ops(solo))}
    # timed ops only: staging and branch switches are not client work
    for phase in ("loaded", "solo"):
        report[phase] = {k: v for k, v in report[phase].items() if k in WRITES + READS}
    if args.workload == "bulk_branch_merge":
        lat = report["loaded"]
        setwise_s = (sum(lat.get("insert_from", [])) + sum(lat.get("delete_where", []))) / 1e3
        report["merge_s"] = [x / 1e3 for x in lat.get("merge", [])]
        report["bulk_rows_per_s"] = (len(lat.get("merge", [])) * inputs.bulk_rows() / setwise_s
                                     if setwise_s else None)
        got = read_rows(out + ".rows.tsv")
        if sorted(got) != inputs.expected_aggregate(tables):
            failures.append(f"aggregate differs from DuckDB ({len(got)} rows)")
        hashes = set(res["merge_hashes"])
        if len(hashes) != 1:
            failures.append(f"merged db_hash differs across iterations: {sorted(hashes)}")
        report["merge_hash"] = min(hashes) if hashes else None
    else:
        acked = [sum(int(s["acked"]) for s in res["streams"] if s["name"] in (f"w{i}", f"w{i}.solo"))
                 for i in range(w["writers"])]
        expected = inputs.expected_ord(acked)
        for name, path in [("final", out + ".rows.tsv")] + (
                [("after restart", rb + ".rows.tsv")] if w["storage"] == "disk" else []):
            keys = [r[0] for r in read_rows(path)]
            if len(keys) != len(set(keys)):
                failures.append(f"{name}: ord holds duplicate keys")
            if set(keys) != expected:
                lost, extra = expected - set(keys), set(keys) - expected
                failures.append(f"{name}: ord differs from the acknowledged writes "
                                f"(lost {len(lost)}, unexpected {len(extra)})")
        if w["storage"] == "disk":
            report["restore_s"] = restore_s
            loop_bytes = res.get("store_loop_bytes")
            user = res.get("user_loop_bytes")
            report["store_bytes_per_user_byte"] = (loop_bytes / user) if user else None
    phases = ("loaded", "solo") if solo is not ops else ("loaded",)
    timed = sum(len(v) for p in phases for v in report[p].values())
    report["attempted"] = timed + sum(len(s["failures"]) for s in res["streams"])
    return report, failures


def check_repeat(args, what, value, failures):
    """What must repeat across runs of one seed (the merged db_hash; each
    batch query's rows and hash) is compared with the first run's, as
    long as the input generator (workloads.py) is unchanged."""
    if value is None:
        return
    with open(workloads.__file__, "rb") as f:
        inputs = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(RESULTS, f"repeat-{what}-{args.size}-{args.seed}"
                                 f"{'-d' if args.delete_first else ''}-{inputs}.txt")
    if os.path.exists(path):
        if open(path).read() != value:
            failures.append(f"{what}: result differs from an earlier run of this seed")
    else:
        with open(path, "w") as f:
            f.write(value)


def headline(report):
    """The headline metrics: name -> (value, unit, sample count)."""
    solo, loaded = report["solo"], report["loaded"]

    def count(lat, kinds):
        return sum(len(lat.get(k, [])) for k in kinds)

    return {
        "setup_s": (report["boot_s"] + stats.median(report["stage_s"]), "s",
                    len(report["stage_s"])),
        "write_ms": (class_ms(solo, WRITES), "ms", count(solo, WRITES)),
        "read_ms": (class_ms(solo, READS), "ms", count(solo, READS)),
        "ops_per_s": (count(loaded, WRITES + READS) / report["elapsed_s"], "1/s",
                      count(loaded, WRITES + READS)),
    }


def full_report(args, report, failures, digest, extra):
    """Every named metric with unit and sample count, for people and for
    compare.py."""
    m = {}

    def put(name, unit, value, n=None):
        m[name] = {"value": value, "unit": unit, "n": n}

    for k, (v, u, n) in headline(report).items():
        put(k, u, v, n)
    put("boot_s", "s", report["boot_s"], 1)
    put("warm_s", "s", report["warm_s"], 1)
    put("solo_s", "s", report["solo_s"], 1)
    for phase in ("solo", "loaded"):
        for kind, lat in sorted(report[phase].items()):
            if kind in WRITES + READS:
                t = stats.timing(lat)
                for p in ("p50", "p90", "p99"):
                    put(f"{phase}.{kind}_{p}_ms", "ms", t[p], t["n"])
    for cls, kinds in (("write", WRITES), ("read", READS)):
        n = sum(len(report["loaded"].get(k, [])) for k in kinds)
        put(f"loaded.{cls}_ops_per_s", "1/s", n / report["elapsed_s"], n)
    if "merge_s" in report:
        put("merge_s", "s", stats.median(report["merge_s"]), len(report["merge_s"]))
    for k, u in (("bulk_rows_per_s", "rows/s"), ("restore_s", "s"),
                 ("store_bytes_per_user_byte", "ratio"), ("peak_rss_mb", "MB")):
        if k in report:
            put(k, u, report[k], 1)
    put("failed_frac", "ratio", len(failures) / max(report["attempted"], 1),
        report["attempted"])
    m.update(extra)
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "correct": not failures,
        "failures": failures[:20], "metrics": m,
        "stamp": {"nproc": NPROC, "jvm": jvm_version(), "spark": spark_version(),
                  "python": platform.python_version(), "sizes": workloads.SIZES[args.size],
                  "source_sha256": digest, "git_commit": git_commit()},
    }


def jvm_version():
    r = subprocess.run(["java", "-version"], stderr=subprocess.PIPE, text=True)
    return r.stderr.splitlines()[0] if r.stderr else None


def spark_version():
    for f in sorted(os.listdir(spark_jars())):
        m = re.fullmatch(r"spark-core_[\d.]+-(.+)\.jar", f)
        if m:
            return m.group(1)
    return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(workloads.SIZES), default="full",
                    help="input sizes (smoke: tiny inputs for the self-test)")
    ap.add_argument("--delete-first", action="store_true",
                    help="bulk_branch_merge: each branch deletes before it inserts")
    args = ap.parse_args()

    try:
        digest = build()
        os.makedirs(RESULTS, exist_ok=True)
        work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        inputs = workloads.Inputs(args.workload, args.seed, args.size, args.delete_first)
        cal = [calibrate()]
        report, failures = measure(args, inputs, work)
        check_repeat(args, "merge", report.get("merge_hash"), failures)
        extra = {}
        if args.trace:
            batch = run_batch(args, work) if args.workload == "point_oltp" else None
            if batch:
                failures += batch[2]
                report["attempted"] += sum(len(batch[0][p]) for p in ("warm", "traced"))
            extra, gaps = trace_report.run(args, inputs, work, report, run_jvm, batch)
            failures += gaps
        cal.append(calibrate())
        extra["host.calibration_ms"] = {"value": stats.median(cal), "unit": "ms", "n": len(cal)}
        full = full_report(args, report, failures, digest, extra)
        name = os.path.join(RESULTS, f"{args.workload}-{args.size}-s{args.seed}"
                                     f"-t{args.trace}-{int(time.time())}")
        if args.trace:
            shutil.copy(os.path.join(work, "trace.spans.tsv"), name + ".spans.tsv")
        if not failures:  # a failed run keeps its files for diagnosis
            shutil.rmtree(work, ignore_errors=True)
    except (BenchError, subprocess.TimeoutExpired, OSError, ValueError, KeyError) as e:
        log(f"error: {e}")
        sys.exit(1)

    with open(name + ".json", "w") as f:
        json.dump(full, f)
    print(json.dumps(full))
    wanted = trace_report.PER_LAYER if args.trace else E2E
    metrics = {k: {"value": full["metrics"][k]["value"], "unit": full["metrics"][k]["unit"]}
               for k in wanted}
    print(json.dumps({"correct": full["correct"], "attempted": report["attempted"],
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(0 if full["correct"] else 1)


if __name__ == "__main__":
    main()
