#!/usr/bin/env python3
"""The repository's benchmark: the serving path and the batch engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <live|replay|queries|pipeline> \
        --seed <n> --seconds <s> --trace <0|1> [--cores <n>]

The first run in a checkout builds the engine and this harness from
source (`perfbench/build.sbt`, about a minute). Each run then starts the
engine in a fresh JVM under a fresh run directory inside
`.bench_build/`, which is deleted afterwards: tables, checkpoints, index
store, warehouse and Spark scratch all live there.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: with `--trace 0` every end-to-end
metric of BENCHMARK.json, with `--trace 1` every per-layer metric. Lines
before it are human-readable detail. The exit code is 1 when an output
check fails, 2 when the checkout holds no engine to build, 3 when the
build fails and 4 on a timeout. README.md in this directory defines each
metric per workload.
"""
import argparse
import hashlib
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# The whole run, build excluded. The gated workloads (BENCHMARK.json)
# must end within 180 s; `replay` and `pipeline` are run by hand.
DEADLINE_S = {"live": 170, "queries": 170, "replay": 600, "pipeline": 900}

# Spark on JDK 17 outside spark-submit needs the module opens
# spark-submit would add (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


# The `queries` engine JVM compiles with C1 only. With the default tiered
# compiler a pass keeps getting faster for about 40 s, as C2 recompiles
# Spark's driver code, and the timed window sits on that curve: a run the
# host slowed also timed colder code. With C1 a pass reaches its plateau
# by the fourth pass. `live` keeps the default: with C1 the service fell
# behind at 10k events/s. The 1 GB heap is touched up front: the timed
# window's light load left a 3 GB heap touched to a different depth in
# each run (peak RSS 2.3-3.1 GB), so peak RSS measured the collector.
QUERIES_JVM = ["-XX:TieredStopAtLevel=1", "-XX:+AlwaysPreTouch"]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def die(code, msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def source_key():
    """Fingerprint of everything the build compiles."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build engine + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        die(2, "no engine sources under src/main/scala/graft: run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    key = source_key()
    if os.path.exists(cp_file):
        stored_key, cp = open(cp_file).read().split("\n", 1)
        if stored_key == key:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building engine + harness (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if l.startswith("/") and "classes" in l]
    if proc.returncode != 0 or not cps:
        print("\n".join(lines[-40:]), file=sys.stderr)
        die(3, "build failed")
    log(f"built in {time.time() - t0:.0f}s")
    with open(cp_file, "w") as f:
        f.write(key + "\n" + cps[-1])
    return cps[-1]


def steal_s():
    """CPU seconds the hypervisor has taken from this machine's vCPUs so
    far (/proc/stat), 0 where not reported. A run with a large value ran
    on a busy host."""
    try:
        with open("/proc/stat") as f:
            ticks = int(f.readline().split()[8])
        return ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


class Proc:
    """A JVM with line-buffered stdout read on a thread; stderr to a file."""

    def __init__(self, name, main, args, cp, run_dir, heap, jvm=()):
        self.name = name
        self.err = open(os.path.join(run_dir, f"{name}.log"), "w")
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        # a fixed heap: peak RSS then tracks the engine's own footprint,
        # not how far the collector chose to grow the heap in this run
        cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={run_dir}/tmp",
                f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false",
                "-Duser.timezone=UTC"] + list(jvm) + ADD_OPENS +
               ["-cp", cp, main] + [f"{k}={v}" for k, v in args.items()])
        self.p = subprocess.Popen(cmd, cwd=run_dir, env=env, text=True,
                                  stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.err)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def expect(self, prefix, deadline):
        """Next stdout line starting with `prefix` (None at EOF)."""
        while True:
            try:
                line = self.lines.get(timeout=max(0.1, deadline - time.time()))
            except queue.Empty:
                raise TimeoutError(f"{self.name}: no '{prefix}' line in time")
            if line is None or line.startswith(prefix):
                return line
            log(f"{self.name}: {line}")

    def send(self, line):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def result(self, deadline):
        line = self.expect("{", deadline)
        if line is None:
            raise RuntimeError(f"{self.name} exited without a result")
        self.p.wait(timeout=max(1, deadline - time.time()))
        return json.loads(line)

    def tail(self):
        self.err.flush()
        with open(self.err.name) as f:
            return "".join(f.readlines()[-30:])

    def kill(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()
        self.err.close()


def oracle_check(tables, out):
    """Each query's first-pass output against its DuckDB oracle SQL:
    columns sorted by name, rows sorted by value, cells compared exactly
    (the repository's tools/check_oracle.py rule). Returns mismatches."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")

    def canon(rel):
        cols = rel.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = sorted(tuple(repr(0.0 if r[i] == 0 and isinstance(r[i], float) else r[i])
                            for i in order) for r in rel.fetchall())
        return [cols[i] for i in order], rows

    bad = {}
    for name, sql in json.load(open(f"{out}/oracle_sql.json")).items():
        if not os.path.isdir(f"{out}/{name}"):
            continue  # the query threw; already counted as failed
        try:
            got = canon(con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'"))
            want = canon(con.sql(sql))
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"error {e}"[:300]
            continue
        if got[0] != want[0]:
            bad[name] = f"columns {got[0]} vs {want[0]}"
        elif got[1] != want[1]:
            bad[name] = f"rows {len(got[1])} vs {len(want[1])}"
    return bad


def run(workload, seed, seconds, trace, cores, cp, run_dir):
    deadline = time.time() + DEADLINE_S[workload]
    launch_ms = int(time.time() * 1000)
    common = dict(seed=seed, seconds=seconds, launchMs=launch_ms)
    args = dict(common, workload=workload, trace=trace, root=run_dir, cores=cores)
    procs = []
    try:
        if workload == "live":
            client = Proc("client", "perfbench.LiveClient", common, cp, run_dir, "1g")
            procs.append(client)
            port = client.expect("FIREHOSE", deadline).split()[1]
            engine = Proc("engine", "perfbench.Engine", dict(args, firehose=port),
                          cp, run_dir, "3g")
            procs.append(engine)
            ready = engine.expect("READY", deadline)
            if ready is None:
                raise RuntimeError("engine exited before serving")
            client.send(" ".join(ready.split()[1:]))
            client.expect("TIMED", deadline)
            engine.send("TIMED")
            res = client.result(deadline)
            engine.send("STOP")
            eng = engine.result(deadline)
            res["metrics"].update(eng["metrics"])
            res["layers"].update(eng["layers"])
            res["notes"].update(eng["notes"])
            return res
        if workload == "queries":
            sys.dont_write_bytecode = True
            sys.path.insert(0, HERE)
            import gen_tables
            tables = os.path.join(run_dir, "tables")
            os.makedirs(tables)
            gen_tables.write(tables, seed)
            args["tables"] = tables
        engine = Proc("engine", "perfbench.Engine", args, cp, run_dir,
                      "1g" if workload == "queries" else "3g",
                      QUERIES_JVM if workload == "queries" else ())
        procs.append(engine)
        res = engine.result(deadline)
        if workload == "queries":
            bad = oracle_check(args["tables"], os.path.join(run_dir, "out"))
            res["failed"] += len(bad)
            res["notes"].update({f"oracle_{k}": v for k, v in bad.items()})
        return res
    except BaseException:
        for p in procs:
            print(f"--- {p.name} stderr tail ---\n{p.tail()}", file=sys.stderr)
        raise
    finally:
        for p in procs:
            p.kill()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["live", "replay", "queries", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    cp = classpath()
    run_dir = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    steal0 = steal_s()
    try:
        res = run(a.workload, a.seed, a.seconds, a.trace, a.cores, cp, run_dir)
    except TimeoutError as e:
        die(4, f"timeout: {e}")
    except Exception as e:
        die(1, f"run failed: {e}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    res["notes"]["host_steal_s"] = round(steal_s() - steal0, 2)
    values = dict(res["metrics"])
    listed = {m["name"] for m in wanted}
    if a.trace:
        values = dict(res["layers"])
        values["trace.items_per_s"] = res["metrics"].get("items_per_s", 0.0)
        layers = json.load(open(os.path.join(HERE, "layers.json")))
        for m in wanted:
            info = layers.get(m["name"], {})
            log(f"{m['name']:<34} {values.get(m['name'], 0.0):>14.6g} {m['unit']:<8} "
                f"layer={info.get('layer', '-')} moves={info.get('moves', '-')}")
    for k, v in res["notes"].items():
        log(f"{k}: {v}")
    # measured but not in BENCHMARK.json: the p99 latencies, ext.stage.*
    for k, v in values.items():
        if k not in listed:
            log(f"{k}: {v}")
    missing = [m["name"] for m in wanted
               if not a.trace and not isinstance(values.get(m["name"]), (int, float))]
    correct = res["failed"] == 0 and not missing
    if missing:
        log(f"metrics not measured: {missing}")
    out = {"correct": correct, "attempted": max(1, int(res["attempted"])),
           "failed": int(res["failed"]) + len(missing),
           "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in wanted}}
    print(json.dumps(out), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
