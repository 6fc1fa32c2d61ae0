#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload query|evolve --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest [--workload query]
    python3 perfbench/run.py --record-expected

Run from the repository root. The first run in a checkout builds graft
and the harness from source (sbt), writes the synthetic fixture and
records the query rows' reference fingerprints (cross-checked once
against the DuckDB oracle with tools/preflight_oracle.py); later runs
reuse all three from perfbench/.work. Every run then starts one harness
JVM at local[nproc] and prints, as its last stdout line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). The full result, host stamp included,
goes to perfbench/out/. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
RUN = os.path.join(WORK, "run")
SF = "0.01"          # fixture scale: lineitem = 6e6 * SF rows
FIXTURE_SEED = 42    # the fixture is fixed; the workload seed drives the rest
HEAP = "3g"          # driver heap, fixed and recorded
RUN_TIMEOUT = 170    # seconds for one harness JVM
WORKLOADS = ("query", "evolve")
# committed row counts of the oracle=none query rows on the fixture
EXPECTED = os.path.join(HERE, "expected_rows.tsv")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_cmd(cmd, cwd, timeout, log_path):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log_path, "w") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(digest):
    """Compile graft and the harness; cache the runtime classpath."""
    stamp = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            d, cp = fh.read().split("\n", 1)
        if d == digest:
            return cp.strip()
    log("building graft and the harness (sbt)")
    log_path = os.path.join(OUT, "build.log")
    rc = run_cmd(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                  "export Runtime/fullClasspath"], HERE, 840, log_path)
    if rc != 0:
        fail(f"build failed (rc={rc}); see {log_path}")
    with open(log_path) as fh:
        lines = [l.strip() for l in fh if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail(f"no classpath in {log_path}")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + lines[-1])
    return lines[-1]


def fixture():
    path = os.path.join(WORK, f"fixture-sf{SF}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        log(f"writing the sf{SF} fixture")
        shutil.rmtree(path, ignore_errors=True)
        sys.path.insert(0, HERE)
        import gen_fixture
        gen_fixture.generate(path, float(SF), FIXTURE_SEED)
        open(os.path.join(path, "_DONE"), "w").close()
    return path


def harness(cp, args, log_path, timeout=RUN_TIMEOUT):
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(os.path.join(RUN, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    # -Xms = -Xmx: the heap is sized once, not grown while a run measures
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", RUN] + args
    rc = run_cmd(cmd, ROOT, timeout, log_path)
    shutil.rmtree(RUN, ignore_errors=True)
    return rc


def reference(cp, fix, digest):
    """Fingerprint every timed registry row once and cross-check the oracle
    rows against DuckDB; the verify step of every run compares to this."""
    ref = os.path.join(WORK, "reference.tsv")
    if os.path.exists(ref):
        with open(ref) as fh:
            if fh.readline().strip() == f"# {digest}":
                return ref
    log("recording reference fingerprints")
    out = os.path.join(WORK, "reference.json")
    keep = os.path.join(WORK, "refdump")
    shutil.rmtree(keep, ignore_errors=True)
    rc = harness(cp, ["--mode", "reference", "--fixture", fix, "--out", out,
                      "--dumpdir", keep], os.path.join(OUT, "reference.log"), 840)
    if rc != 0:
        fail(f"reference run failed (rc={rc})")
    with open(out) as fh:
        res = json.load(fh)
    oracle_ops = [o["op"] for o in res["ops"] if o["oracle"] and o["rows"] >= 0]
    verdicts = {}
    tool = os.path.join(ROOT, "tools", "preflight_oracle.py")
    if oracle_ops and os.path.exists(tool):
        log(f"DuckDB oracle cross-check of {len(oracle_ops)} rows")
        check_log = os.path.join(OUT, "oracle_check.txt")
        run_cmd([sys.executable, tool, fix, keep] + oracle_ops, ROOT, 840, check_log)
        with open(check_log) as fh:
            for line in fh:
                parts = line.split()
                if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
                    verdicts[parts[1].rstrip(":")] = parts[0]
    shutil.rmtree(keep, ignore_errors=True)
    with open(ref, "w") as fh:
        fh.write(f"# {digest}\n")
        for o in res["ops"]:
            if o["rows"] < 0:
                v = "error"
            elif not o["oracle"]:
                v = "none"
            else:
                v = "oracle" if verdicts.get(o["op"]) == "PASS" else "fail"
            fh.write(f"{o['op']}\t{o['hash']}\t{o['rows']}\t{v}\n")
    bad = [o["op"] for o in res["ops"] if o["oracle"] and verdicts.get(o["op"]) != "PASS"]
    if bad:
        log(f"oracle mismatch or error on {len(bad)} rows: {' '.join(bad)}")
    return ref


def read_proc(path):
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return ""


def steal_jiffies():
    for line in read_proc("/proc/stat").splitlines():
        if line.startswith("cpu "):
            return int(line.split()[8])
    return -1


class LoadSampler(threading.Thread):
    """Samples the 1-minute loadavg once a second while the harness runs."""

    def __init__(self):
        super().__init__(daemon=True)
        self.samples, self.stop = [], threading.Event()

    def run(self):
        while not self.stop.is_set():
            la = read_proc("/proc/loadavg").split()
            if la:
                self.samples.append(float(la[0]))
            self.stop.wait(1.0)


def host_stamp(digest):
    mem = [l for l in read_proc("/proc/meminfo").splitlines() if l.startswith("MemTotal")]
    cpu = [l.split(":", 1)[1].strip() for l in read_proc("/proc/cpuinfo").splitlines()
           if l.startswith("model name")]
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            pass
    return {"nproc": os.cpu_count(), "mem_total": mem[0].split(":", 1)[1].strip() if mem else "",
            "cpu_model": cpu[0] if cpu else "", "heap": HEAP, "git_commit": commit,
            "source_digest": digest, "fixture_sf": SF}


def contract_line(res, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail(f"harness did not report {missing}", 1)
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}}


def prepare():
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(ROOT, "BENCHMARK.json"))):
        fail("graft's sources (build.sbt, src/main/scala/graft) or BENCHMARK.json "
             "are not beside perfbench/; run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    digest = source_digest()
    cp = build(digest)
    fix = fixture()
    ref = reference(cp, fix, digest)
    return digest, cp, fix, ref


def run_once(workload, seed, seconds, trace, prepared):
    digest, cp, fix, ref = prepared
    tag = f"{workload}-seed{seed}-trace{int(trace)}"
    out = os.path.join(OUT, f"raw-{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    sampler, steal0, t0 = LoadSampler(), steal_jiffies(), time.time()
    sampler.start()
    rc = harness(cp, ["--mode", "run", "--workload", workload, "--seed", str(seed),
                      "--seconds", str(seconds), "--trace", "1" if trace else "0",
                      "--fixture", fix, "--out", out, "--reference", ref, "--expected", EXPECTED,
                      "--cache", os.path.join(WORK, "evolve-base")],
                 os.path.join(OUT, f"harness-{tag}.log"))
    sampler.stop.set()
    sampler.join()
    if rc != 0 or not os.path.exists(out):
        fail(f"harness run failed (rc={rc}); see {os.path.join(OUT, f'harness-{tag}.log')}", 1)
    with open(out) as fh:
        res = json.load(fh)
    la = sampler.samples or [0.0]
    res["host"] = dict(res.get("host", {}), **host_stamp(digest))
    res["host"].update({"loadavg_mean": sum(la) / len(la), "loadavg_max": max(la),
                        "steal_jiffies": steal_jiffies() - steal0,
                        "wall_s": time.time() - t0})
    with open(os.path.join(OUT, f"result-{tag}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    os.remove(out)
    return res


def selftest(workload, prepared):
    """Harness self-tests, then two traced runs whose deterministic
    counters must repeat exactly; lists every op where they do not."""
    digest, cp, fix, ref = prepared
    out = os.path.join(OUT, "selftest-harness.json")
    rc = harness(cp, ["--mode", "selftest", "--seed", "1", "--fixture", fix, "--out", out],
                 os.path.join(OUT, "selftest-harness.log"))
    if rc != 0:
        fail("harness self-test crashed", 1)
    with open(out) as fh:
        checks = json.load(fh)["checks"]
    runs = [run_once(workload, 1, 1, True, prepared) for _ in range(2)]
    keys = ("jobs", "tasks", "input_rows", "shuffle_write_b")
    by = [{(c.get("pass", 0), c["op"]): c for c in r["op_counters"]} for r in runs]
    differ = [{"op": k[1], "pass": k[0], **{f: [by[0][k][f], by[1].get(k, {}).get(f)]
                                           for f in keys}}
              for k in sorted(by[0]) if any(by[0][k][f] != by[1].get(k, {}).get(f) for f in keys)]
    report = {"harness_checks": checks, "counter_workload": workload,
              "counter_ops": len(by[0]), "counters_differ": differ}
    with open(os.path.join(OUT, f"selftest-{workload}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    for name, ok in checks.items():
        print(f"{'PASS' if ok else 'FAIL'} {name}")
    print(f"{'PASS' if not differ else 'LIST'} deterministic counters repeat on "
          f"{len(by[0]) - len(differ)}/{len(by[0])} {workload} ops"
          + "".join(f"\n  differs: {d['op']} (pass {d['pass']})" for d in differ))
    return all(checks.values())


def record_expected(prepared):
    """Write expected_rows.tsv: the row count of every oracle=none row under
    a query prefix on the fixture. Run once, when the fixture or the
    registry changes, and review the diff before committing it."""
    digest, cp, fix, ref = prepared
    out = os.path.join(OUT, "rowcounts.json")
    rc = harness(cp, ["--mode", "rowcounts", "--fixture", fix, "--out", out],
                 os.path.join(OUT, "rowcounts.log"), 840)
    if rc != 0:
        fail(f"row-count run failed (rc={rc})", 1)
    with open(out) as fh:
        rows = json.load(fh)["rows"]
    with open(EXPECTED, "w") as fh:
        fh.write(f"# rows of each oracle=none query row on the sf{SF} fixture (seed "
                 f"{FIXTURE_SEED}); written by run.py --record-expected\n")
        for name in sorted(rows):
            fh.write(f"{name}\t{rows[name]}\n")
    log(f"wrote {len(rows)} row counts to {EXPECTED}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, default="query")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    # runs share .work (build, fixture, scratch): one at a time
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    prepared = prepare()
    if a.record_expected:
        record_expected(prepared)
        return
    if a.selftest:
        sys.exit(0 if selftest(a.workload, prepared) else 1)
    res = run_once(a.workload, a.seed, a.seconds, bool(a.trace), prepared)
    print(json.dumps(contract_line(res, bool(a.trace))))


if __name__ == "__main__":
    main()
