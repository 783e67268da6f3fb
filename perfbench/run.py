#!/usr/bin/env python3
"""The repository's benchmark: the sync and JQL-query paths of the engine,
end to end (untraced run) or per layer (traced run, which also replays the
sync ingest through the streaming-CDC path).

    python3 perfbench/run.py --workload <sync|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) into `.bench_build/`; later runs reuse the build
while the sources are unchanged. Human-readable lines go to stdout first;
the last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`. The exit code is 0 only when every correctness gate
passed. See perfbench/NOTES.md for the workloads, metrics and predictions.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

WORKLOADS = ("sync", "query_mix")
# corpus scale: 15,000 orders (issues), ~60,000 lineitems (links), 10,000
# events; see NOTES.md for why the workloads are this small
SF = 0.01
# the heap is fixed at its maximum: a heap that grew during the run made
# back-to-back full syncs differ by up to 2x. The live set is about 200 MB.
HEAP = "2g"
# Spark's local cores. Two of the host's four leave room for the JIT, the
# collector and git, so a run measures the engine rather than the scheduler.
CORES = min(2, os.cpu_count() or 1)
JVM_TIMEOUT_S = 165
STALE_S = 3600
WORK_PREFIX = "perfbench-"
ORACLE_FILE = HERE / "oracle_hashes.json"
# class-data-sharing archive of the classes the workloads load; it cuts JVM
# and Spark start-up by a few seconds per run
CDS_ARCHIVE = BUILD / "classes.jsa"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def sources():
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project" / "build.properties",
             HERE / "src"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            for p in sorted(r.rglob("*")):
                if p.is_file() and "target" not in p.relative_to(r).parts:
                    yield p


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    return env


def classpath():
    """The harness's runtime classpath (jars), building first when sources
    changed."""
    cp_file, fp_file = BUILD / "classpath.txt", BUILD / "build.fp"
    fp = fingerprint()
    if cp_file.is_file() and fp_file.is_file() and fp_file.read_text() == fp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the engine")
    log("perfbench: building the engine and the harness with sbt")
    BUILD.mkdir(parents=True, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspathAsJars"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        log("\n".join(lines[-40:]))
        fail(f"sbt build failed (exit {proc.returncode})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    CDS_ARCHIVE.unlink(missing_ok=True)
    archive_classes(cp)
    fp_file.write_text(fp)
    return cp


def archive_classes(cp):
    """Records the workloads' classes into CDS_ARCHIVE with one untimed run
    of the `warm` path. Without the archive the runs are only slower."""
    work_root = BUILD / "work"
    work_root.mkdir(parents=True, exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=WORK_PREFIX, dir=work_root))
    try:
        launch(cp, "warm", 0, 0, 0, work,
               jvm_flags=[f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    except SystemExit:
        log("perfbench: no class archive; continuing without it")
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------- run

def reap_stale(work_root):
    """Removes work directories of earlier runs that died without cleaning up."""
    cutoff = time.time() - STALE_S
    for p in work_root.glob(WORK_PREFIX + "*"):
        try:
            if p.stat().st_mtime < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except FileNotFoundError:
            pass


def launch(cp, workload, seed, seconds, trace, work, outputs=None, jvm_flags=None):
    """Runs one workload in a fresh JVM; returns its result dict."""
    out = work / "result.json"
    jvm_log = work / "jvm.log"
    (work / "tmp").mkdir()
    if jvm_flags is None:
        jvm_flags = ([f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]
                     if CDS_ARCHIVE.is_file() else [])
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}"] +
           jvm_flags + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--sf", str(SF),
            "--cores", str(CORES),
            "--corpus", str(BUILD / f"corpus-sf{SF}"),
            "--work", str(work), "--out", str(out)] +
           (["--outputs", str(outputs)] if outputs else []))
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # also when this process is interrupted or terminated
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not out.is_file():
        log(jvm_log.read_text()[-6000:])
        fail("the benchmark JVM timed out" if code is None
             else f"the benchmark JVM exited with {code}", 1)
    return json.loads(out.read_text())


# ---------------------------------------------------------------- metrics

def e2e(workload, r):
    """The end-to-end metrics of one result: (name -> (value, unit)), plus
    the workload's own metric names for the human-readable summary."""
    s = r["samples"]
    if workload == "sync":
        thr = stats.median(s["full_issues_per_s"])
        lat = stats.median(s["incr_batch_s"])
        own = {"sync_issues_per_s": (thr, "issues/s"),
               "incr_batch_p50_s": (lat, "s")}
    else:
        cards = {k: v for k, v in s.items() if k.startswith("card_s.")}
        runs = [x for v in cards.values() for x in v]
        # cards over the median pass's wall seconds: a pass that a pause of
        # the host lands on moves nothing
        thr = len(cards) / stats.median(s["pass_s"])
        # the median card's median run, so a pause of the host or the JVM
        # that lands on one run of a card moves nothing
        lat = stats.median([stats.median(v) for v in cards.values()])
        own = {"query_p50_s": (lat, "s"), "queries_per_s": (thr, "1/s")}
        t = stats.tail(runs)
        if t:
            own[f"query_p{t[0]}_s"] = (t[1], "s")
        else:
            print(f"query_mix query_p90_s not reported: {len(runs)} card runs, "
                  f"a p90 needs {10 * stats.MIN_BEYOND}")
    own["peak_rss_mb"] = (r["peak_rss_mb"], "MB")
    metrics = {"setup_s": (stats.median(r["setup_s"]), "s"),
               "live_heap_mb": (r["live_heap_mb"], "MB"),
               "throughput_per_s": (thr, "1/s"),
               "latency_p50_s": (lat, "s")}
    return metrics, own


def layer_metrics(workload, r, spec):
    """Every declared per-layer metric; a layer a workload does not exercise
    reads 0."""
    lay, ls = r["layers"], r["layer_samples"]
    vals = dict(lay)
    for name, v in lay.items():
        if name.startswith("query."):
            vals[name] = v / r["values"]["passes"]  # per pass over the cards
    for name, xs in ls.items():
        vals[name] = stats.median(xs)
    vals["jvm.peak_rss_mb"] = r["peak_rss_mb"]
    if lay.get("stream.batches"):
        vals["stream.jobs_per_batch"] = lay["stream.jobs"] / lay["stream.batches"]
        vals["stream.source_reads_per_row"] = (
            lay["stream.input_rows"] / lay["stream.generator_rows"])
        for kind in ("bulk", "update"):
            vals[f"stream.{kind}_batch_p50_s"] = stats.median(
                ls[f"stream.{kind}_batch_s"])
    metrics, _ = e2e(workload, r)
    vals["traced.throughput_per_s"] = metrics["throughput_per_s"][0]
    vals["traced.latency_p50_s"] = metrics["latency_p50_s"][0]
    return {m["name"]: {"value": vals.get(m["name"], 0.0), "unit": m["unit"]}
            for m in spec["per_layer"]}


def check_outputs(r):
    """query_mix gate: every execution's output digest against the stored,
    DuckDB-verified digest of the card's output (see oracle.py)."""
    expected = json.loads(ORACLE_FILE.read_text())["cards"]
    got = r["values"]["digests"]
    bad, wrong = [], 0
    for card, runs in sorted(got.items()):
        want = expected.get(card, {}).get("digest")
        n = sum(d != want for d in runs)
        if n:
            wrong += n
            bad.append(f"{card}: {n} of {len(runs)} executions differ from "
                       f"the DuckDB-verified output")
    if len(got) != r["values"]["cards"]:
        bad.append(f"outputs of {len(got)} cards, {r['values']['cards']} run")
        wrong += 1
    return bad, wrong


def cpu_times():
    """The host's CPU time counters (jiffies) from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests in between: the
    run's figures are slower by about that much when it is not 0."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / max(1, sum(d)), 4)


def conditions(seed, trace, r, steal):
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, text=True, capture_output=True,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)},
        ).stdout.strip() or "unknown"
    except OSError:
        sha = "unknown"
    return {"nproc": os.cpu_count(), "spark_cores": r["cores"],
            "load_avg": list(os.getloadavg()), "seed": seed, "git_sha": sha,
            "heap_mb": round(r["heap_max_mb"]), "traced": bool(trace), "sf": SF,
            "cpu_steal_share": steal}


def main():
    # turn SIGTERM into SystemExit, so the JVM is stopped and the work
    # directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("the engine's sources (build.sbt, src/main) are not in this checkout")
    if not spec_file.is_file():
        fail("BENCHMARK.json is missing")
    spec = json.loads(spec_file.read_text())
    for tool in ("java", "git"):
        if shutil.which(tool) is None:
            fail(f"{tool} is not on PATH")

    cp = classpath()
    work_root = BUILD / "work"
    work_root.mkdir(parents=True, exist_ok=True)
    reap_stale(work_root)
    work = Path(tempfile.mkdtemp(prefix=WORK_PREFIX, dir=work_root))
    try:
        before = cpu_times()
        r = launch(cp, a.workload, a.seed, a.seconds, a.trace, work)
        steal = steal_share(before, cpu_times())
        failures = list(r["failures"])
        failed = r["failed"]
        if a.workload == "query_mix":
            bad, wrong = check_outputs(r)
            failures += bad
            failed += wrong
        attempted = r["attempted"]
        correct = failed == 0 and attempted > 0
        metrics, own = e2e(a.workload, r)
        print("conditions " + json.dumps(conditions(a.seed, a.trace, r, steal)))
        for name, (v, unit) in {**own, **metrics}.items():
            print(f"{a.workload} {name} = {v:.6g} {unit}")
        print(f"{a.workload} failed_ratio = {failed / max(1, attempted):.6g} "
              f"({failed} of {attempted} operations)")
        for f in failures[:20]:
            print(f"FAILED {f}")
        last_untraced = BUILD / f"untraced-{a.workload}.json"
        if a.trace:
            out = layer_metrics(a.workload, r, spec)
            if last_untraced.is_file():
                base = json.loads(last_untraced.read_text())
                for name in ("throughput_per_s", "latency_p50_s"):
                    d = metrics[name][0] - base[name]
                    print(f"{a.workload} trace_overhead {name} = {d:+.6g} "
                          f"({d / base[name]:+.1%} against the last untraced run)")
            for name, span in sorted(r["spans"].items()):
                print(f"span {name}: n={span['count']:.0f} "
                      f"total={span['total_s']:.4f}s self={span['self_s']:.4f}s")
        else:
            out = {m["name"]: {"value": metrics[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
            if correct:
                last_untraced.write_text(json.dumps(
                    {k: v for k, (v, _) in metrics.items()}))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": out}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
