#!/usr/bin/env python3
"""Cold-path benchmark of the graft engine: one workload per run, one
fresh JVM per run.

    python3 perfbench/run.py --workload fileops|corpus_build|query_mix
        --seed N --seconds S --trace 0|1

Run from the repository root. The run builds the program from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/inputs.py) in a per-run directory, runs the harness JVM
(set-up, then S seconds of closed-loop rounds, at least one), checks
every output, and prints human-readable lines followed by one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. A failed check prints "correct": false and exits 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build   # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("fileops", "corpus_build", "query_mix")
DEADLINE_S = 170        # the whole run, build excluded
HEAP = "3g"
LAYERS = ["blueprints", "sources.FileManifest", "operators.FileOps",
          "operators.Pipeline", "operators.TextAnalysis", "operators.Release",
          "operators.Relational"]
LAYER_FIELDS = ["wall_s", "self_s", "calls", "jobs", "tasks", "task_s",
                "cpu_s", "gc_s", "input_mb", "shuffle_mb", "spill_mb",
                "output_mb", "driver_gap_s"]
# the JVM options build.sbt gives forked runs
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def jvm(root, work, args, log, deadline):
    """Run the harness JVM with per-run isolation: its own tmpdir,
    warehouse, in-memory catalog and Spark local dirs."""
    n = cpus()
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_MASTER"))}
    env.update(LC_ALL="C.UTF-8", LANG="C.UTF-8",
               SPARK_LOCAL_DIRS=str(work / "local"),
               SPARK_MASTER=f"local[{n}]", SPARK_GRAFT_CPUS=str(n))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] +
           [x for p in ADD_OPENS for x in ("--add-opens",
                                           f"java.base/{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.sql.catalogImplementation=in-memory",
            "-cp", build.classpath(root), "perfbench.Harness"] + args)
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=out,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError("harness JVM ran past the run's deadline")
    if rc != 0:
        tail = Path(log).read_text(errors="replace")[-3000:]
        raise RuntimeError(f"harness JVM exited {rc}:\n{tail}")


# ---- metrics ---------------------------------------------------------

def by_round(calls):
    rounds = {}
    for c in calls:
        if c["round"] > 0:
            rounds.setdefault(c["round"], []).append(c)
    return [rounds[k] for k in sorted(rounds)]


def tail(values):
    """Highest of the usual percentiles with at least ten samples beyond
    it, as (label, value); the maximum when there are too few samples."""
    v = sorted(values)
    for p in (99.9, 99, 95, 90, 75, 50):
        if len(v) * (100 - p) / 100 >= 10:
            i = min(len(v) - 1, int(len(v) * p / 100))
            return f"p{p:g}", v[i]
    return "max", v[-1]


def workload_metrics(workload, rec):
    """The workload's own end-to-end figures (printed, not in the JSON
    line): rates over the timed calls of every round."""
    calls = [c for c in rec["calls"] if c["round"] > 0]

    def pick(*names):
        return [c for c in calls if c["name"] in names]

    def rate(cs, fact):
        return sum(c["facts"][fact] for c in cs) / sum(c["wall_s"] for c in cs)
    out = {}
    if workload == "fileops":
        copies = pick("upload", "download", "sync_cold", "move")
        out["copy_files_per_s"] = (rate(copies, "files"), "1/s")
        out["compare_files_per_s"] = (rate(pick("sync_nochange"), "scanned"), "1/s")
        out["verify_mb_per_s"] = (rate(pick("sync_verify"), "digested_mb"), "MiB/s")
        out["delete_files_per_s"] = (rate(pick("remove"), "files"), "1/s")
    elif workload == "corpus_build":
        out["clean_docs_per_s"] = (rate(pick("q100_corpus_pipeline"), "docs"), "1/s")
        rel = pick("vocab_store", "q235_token_release")
        docs = sum(c["facts"]["docs"] for c in pick("q235_token_release"))
        out["release_docs_per_s"] = (docs / sum(c["wall_s"] for c in rel), "1/s")
        r = pick("q235_token_release")
        out["stored_bytes_per_input_byte"] = (
            statistics.median(c["facts"]["stored_bytes"] / c["facts"]["input_bytes"]
                              for c in r), "ratio")
    else:
        lat = [c["wall_s"] for c in calls]
        out["query_p50_s"] = (statistics.median(lat), "s")
        label, value = tail(lat)
        out[f"query_tail_s_{label}"] = (value, "s")
        warm = [c for c in rec["calls"] if c["name"] == "warmup_pass"]
        out["warmup_s"] = (warm[0]["wall_s"], "s")
    return out


def union_s(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e3


def layer_metrics(rec, setup):
    """Per-layer metrics of a traced run, as means per round. Listener
    events are attributed to the innermost span open at the event's
    time; a layer's self time is its span time minus its child spans."""
    spans = rec["spans"]
    f = {k: i for i, k in enumerate(rec["task_fields"])}
    rounds = max(1, rec["rounds"])

    def owner(t_ms):
        best = None
        for s in spans:
            if s["start_ms"] <= t_ms <= s["end_ms"]:
                if best is None or s["start_ms"] >= best["start_ms"]:
                    best = s
        return best
    acc = {s["id"]: {k: 0.0 for k in LAYER_FIELDS + ["input_records"]}
           for s in spans}
    max_task = {s["id"]: 0.0 for s in spans}
    for t in rec["tasks"]:
        s = owner(t[f["finish_ms"]])
        if s is None:
            continue
        a = acc[s["id"]]
        a["tasks"] += 1
        a["task_s"] += t[f["run_s"]]
        a["cpu_s"] += t[f["cpu_s"]]
        a["gc_s"] += t[f["gc_s"]]
        a["input_mb"] += t[f["input_bytes"]] / 2**20
        a["shuffle_mb"] += t[f["shuffle_bytes"]] / 2**20
        a["spill_mb"] += t[f["spill_bytes"]] / 2**20
        a["output_mb"] += t[f["output_bytes"]] / 2**20
        a["input_records"] += t[f["input_records"]]
        max_task[s["id"]] = max(max_task[s["id"]], t[f["run_s"]])
    for s in spans:
        a = acc[s["id"]]
        a["wall_s"] = s["wall_s"]
        a["calls"] = 1
        lo, hi = s["start_ms"], s["end_ms"]
        jobs = [(max(lo, js), min(hi, je)) for _, js, je in rec["jobs"]
                if js <= hi and je >= lo]
        a["jobs"] = sum(1 for _, js, _ in rec["jobs"]
                        if owner(js) is s)
        a["driver_gap_s"] = max(0.0, s["wall_s"] - union_s(jobs))
        kids = [(k["start_ms"], k["end_ms"]) for k in spans
                if k["parent"] == s["id"]]
        a["self_s"] = max(0.0, s["wall_s"] - union_s(kids))
    out = {"session.jvm_s": setup["jvm_s"], "session.build_s": setup["build_s"],
           "session.first_job_s": setup["first_job_s"]}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        for k in LAYER_FIELDS:
            out[f"{layer}.{k}"] = sum(acc[s["id"]][k] for s in mine) / rounds
    calls = [c for c in rec["calls"] if c["round"] > 0]

    def facts(layer, key, names=None):
        return sum(c["facts"].get(key, 0.0) for c in calls
                   if c["layer"] == layer and (names is None or c["name"] in names))
    listed = facts("sources.FileManifest", "entries")
    out["sources.FileManifest.entries_listed"] = listed / rounds
    out["sources.FileManifest.match_ratio"] = (
        facts("sources.FileManifest", "matched") / listed if listed else 0.0)
    moved = facts("operators.FileOps", "files")
    scanned = facts("operators.FileOps", "scanned")
    out["operators.FileOps.files_transferred"] = moved / rounds
    out["operators.FileOps.transfer_ratio"] = moved / scanned if scanned else 0.0
    out["operators.FileOps.copied_mb"] = facts("operators.FileOps", "copied_mb") / rounds
    docs = facts("operators.Pipeline", "docs")
    out["operators.Pipeline.survivor_ratio"] = (
        facts("operators.Pipeline", "survivors") / docs if docs else 0.0)
    out["operators.Release.written_files"] = (
        facts("operators.Release", "written_files") / rounds)
    rel = [s for s in spans if s["layer"] == "operators.Relational"]
    rows = facts("operators.Relational", "result_rows")
    examined = sum(acc[s["id"]]["input_records"] for s in rel)
    out["operators.Relational.rows_examined_per_row"] = examined / rows if rows else 0.0
    shares = [max_task[s["id"]] / acc[s["id"]]["task_s"] for s in rel
              if acc[s["id"]]["task_s"] > 0]
    out["operators.Relational.max_task_share"] = (
        statistics.mean(shares) if shares else 0.0)
    walls = [sum(c["wall_s"] for c in r) for r in by_round(rec["calls"])]
    out["trace.wall_s"] = statistics.median(walls)
    span_rows = [dict(s, **acc[s["id"]]) for s in spans]
    return out, span_rows


def units(name):
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MiB"
    if leaf.endswith(("_ratio", "_share", "_per_row")):
        return "ratio"
    return "count"


# ---- main --------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = Path.cwd()
    try:
        stamp = build.ensure_built(root)
    except (FileNotFoundError, RuntimeError) as e:
        fail(f"cannot build the program: {e}")
    deadline = time.time() + DEADLINE_S

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = root / ".perfbench_work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    for d in ("input", "tmp", "warehouse", "local", "results"):
        (work / d).mkdir(parents=True)
    log = work / "jvm.log"
    phases = {}
    mark = time.time()

    def phase(name):
        nonlocal mark
        phases[name] = round(time.time() - mark, 2)
        mark = time.time()
    try:
        props = inputs.GENERATORS[a.workload](a.seed, work / "input")
        phase("generate")
        out = work / "record.json"
        jvm(root, work, ["--workload", a.workload, "--seed", str(a.seed),
                         "--input", str(work / "input"), "--work", str(work),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--out", str(out), "--pattern", inputs.FILE_PATTERN],
            log, deadline)
        rec = json.loads(out.read_text())
        phase("harness_jvm")
        attempted, failures = rec["attempted"], list(rec["failures"])
        if rec["hashes"]:
            gen = hashlib.sha256((HERE / "inputs.py").read_bytes()).hexdigest()
            key = f"{a.workload}-{a.seed}-{stamp[:16]}-{gen[:16]}.json"
            n, bad = oracle.check(work / "input", work / "results",
                                  rec["hashes"], root / ".perfbench_cache" / key)
            attempted += n
            failures += bad
            phase("oracle")
    except Exception as e:  # no result line: the run itself broke
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)

    rounds = by_round(rec["calls"])
    walls = [sum(c["wall_s"] for c in r) for r in rounds]
    cpu = [sum(c["cpu_s"] for c in r) for r in rounds]
    e2e = {"setup_s": (rec["setup"]["setup_s"], "s"),
           "wall_s": (statistics.median(walls), "s"),
           "cpu_s": (statistics.median(cpu), "s")}
    report = dict(e2e)
    report["retained_heap_mb"] = (statistics.median(rec["retained_mb"]), "MiB")
    report["peak_rss_mb"] = (rec["peak_rss_mb"], "MiB")
    report["failed_ratio"] = (len(failures) / attempted, "ratio")
    report.update(workload_metrics(a.workload, rec))

    print(f"workload {a.workload} seed {a.seed} cpus {rec['cpus']} "
          f"rounds {rec['rounds']} (closed loop, 1 client) "
          f"heap {rec['heap_max_mb']:.0f} MiB")
    print("input " + json.dumps(props, sort_keys=True))
    print("phases_s " + json.dumps(phases))
    print("setup " + json.dumps(rec["setup"], sort_keys=True))
    for name, (v, u) in report.items():
        print(f"metric {name} {v:.6g} {u}")
    for f in failures:
        print(f"FAILED {f}")
    keep = root / ".perfbench_runs" / run_id
    keep.mkdir(parents=True, exist_ok=True)
    shutil.copy(out, keep / "record.json")
    if a.trace:
        metrics, span_rows = layer_metrics(rec, rec["setup"])
        (keep / "spans.jsonl").write_text(
            "".join(json.dumps(dict(s, run=run_id)) + "\n" for s in span_rows))
        print(f"spans {len(span_rows)} written to {keep / 'spans.jsonl'}")
        print(f"trace wall_s {metrics['trace.wall_s']:.6g} s "
              f"(tracing overhead = this minus the untraced wall_s median)")
        metrics = {k: {"value": v, "unit": units(k)} for k, v in metrics.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
