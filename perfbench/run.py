#!/usr/bin/env python3
"""Nightly-ELT benchmark of the graft pipeline.

    python3 perfbench/run.py --workload nightly_merge --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run builds the program if its sources
changed (`build.py`), generates seeded bc2adls change-sets (`gen.py`), and
starts one JVM (`scala/Main.scala`, Spark `local[4]`) that

  1. sets the warehouse up: the first-sight load of night 0 through
     `Pipeline.run`, SETUP_REPS times into fresh directories (`setup_s` is
     the median);
  2. applies NIGHTS incremental nights through `Pipeline.run` (night 1
     warms the incremental path; the night metrics time the others);
  3. serves a closed-loop read mix on `orders` (point lookups, 50-key IN
     lookups, key-range filters, time-travel reads, `history()` and
     full-scan aggregates): WARMUP_ROUNDS untimed rounds of MIX, then one
     timed round per SECONDS_PER_ROUND of `--seconds`;
  4. exports the final tables.

The output check (`check.py`) compares the exported tables and every read's
answer with the generator's own bookkeeping. The last line of stdout is one
JSON object: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1` (a traced mirror of the same nights, see `scala/Traced.scala`).
Everything the run writes stays under `.bench_build/perfbench` in the
checkout.
"""

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# sf0.1 has 150k orders and 600k lineitems; the benchmark keeps their ratio
# at 1/60 of the size, where a night's cost is the per-folder fixed cost.
ROWS = {"orders": 2500, "lineitem": 10000}
SETUP_REPS = 3
NIGHTS = 5
TIMED_FROM_NIGHT = 2  # night 1 warms the incremental path up, untimed
TRACE_NIGHTS = 2
ASOF_NIGHT = 1
JVM_TIMEOUT_S = 170

WORKLOADS = {
    "nightly_overwrite": "overwrite",
    "nightly_merge": "merge",
}

END_TO_END = [
    ("setup_s", "s"), ("night_s_p50", "s"), ("night_rows_per_s", "1/s"),
    ("write_amp", "ratio"), ("space_amp", "ratio"),
    ("lookup_ms_p50", "ms"), ("lookup_ms_p75", "ms"),
    ("keyset_ms_p50", "ms"), ("range_ms_p50", "ms"), ("asof_ms_p50", "ms"),
    ("history_ms_p50", "ms"), ("scan_ms_p50", "ms"), ("reads_per_s", "1/s"),
    ("ok_ratio", "ratio"),
]

PER_LAYER = [
    ("watermark.list_s", "s"), ("watermark.save_s", "s"),
    ("watermark.files_listed", "count"),
    ("csv.infer_s", "s"), ("csv.parse_s", "s"), ("csv.bytes_read", "bytes"),
    ("csv.jobs", "count"),
    ("normalize.self_s", "s"),
    ("merge.self_s", "s"), ("merge.shuffle_bytes", "bytes"),
    ("merge.rows_in", "count"), ("merge.rows_out", "count"),
    ("write.s", "s"), ("write.jobs", "count"), ("write.task_s", "s"),
    ("write.bytes", "bytes"), ("write.files", "count"),
    ("manifest.touched_ratio", "ratio"), ("manifest.opens", "count"),
    ("manifest.list_calls", "count"), ("manifest.status_calls", "count"),
    ("manifest.stage_jobs", "count"),
    ("bloom.jobs", "count"), ("bloom.tasks", "count"), ("ndv.jobs", "count"),
    ("zonemaps.footer_opens", "count"),
    ("pipeline.recover_s", "s"), ("pipeline.post_count_s", "s"),
    ("pipeline.jobs_per_folder", "count"),
    ("read.prune_s", "s"), ("read.exec_s", "s"),
    ("read.files_scanned_per_lookup", "count"),
    ("read.rows_scanned_per_row_returned", "ratio"),
    ("read.meta_ops_per_lookup", "count"),
    ("spark.jobs", "count"), ("spark.task_s", "s"),
    ("spark.shuffle_bytes", "bytes"),
    ("trace.overhead_s", "s"),
]

JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", "-XX:-UsePerfData"] + [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


# One round of the read mix: op kind -> count. Cheap kinds repeat so each
# has enough samples for a steady median; 5 rounds give 20 lookups, so the
# lookup tail is reported at p75 (5 samples beyond it).
MIX = [("lookup", 4), ("keyset", 2), ("range", 4), ("asof", 2),
       ("history", 10), ("scan", 2)]
# An untimed round first: read latencies fall over the first ops of a fresh
# JVM while the read path compiles, and a one-op warm-up left the medians of
# the cheap kinds depending on how far that had got.
WARMUP_ROUNDS = 1
WARMUP = WARMUP_ROUNDS * sum(n for _, n in MIX)
SECONDS_PER_ROUND = 4  # nominal; sets the timed rounds per --seconds


def read_mix(changesets, seed, rounds):
    """The read ops of one run, one line each: WARMUP_ROUNDS untimed rounds
    of MIX, then `rounds` timed ones. Lookups are by `systemid` (one in ten
    misses), keysets are 50-key IN lists, ranges cover 1% of `orderkey`,
    `asof` reads the version after night ASOF_NIGHT."""
    rng = random.Random(seed * 7919 + 1)
    orders = next(t for t in changesets.tables if t.name == "orders")
    keys = list(dict.fromkeys(r["systemid"] for r in orders.nights[0]))
    span = max(1, len(keys) // 100)

    def op(kind):
        if kind == "lookup":
            key = gen._guid(rng) if rng.random() < 0.1 else rng.choice(keys)
            return "lookup\t%s" % key
        if kind == "keyset":
            return "keyset\t%s" % ",".join(rng.sample(keys, 50))
        if kind == "range":
            lo = rng.randint(1, len(keys) - span)
            return "range\t%d\t%d" % (lo, lo + span)
        return kind

    lines = []
    for _ in range(WARMUP_ROUNDS + rounds):
        # Shuffled, so that a kind's samples spread over the whole round
        # rather than sharing one moment's load.
        kinds = [kind for kind, n in MIX for _ in range(n)]
        rng.shuffle(kinds)
        lines += [op(kind) for kind in kinds]
    return lines


def run_jvm(classpath, conf_path, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(
            ["java", "-Djava.io.tmpdir=" + tmp] + JVM_OPTS +
            ["-cp", classpath, "perfbench.Main", conf_path],
            stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return -1


def parse_report(path):
    rec = {"setup": [], "night": [], "read": [], "layer": {}, "space": None,
           "applied": None}
    with open(path) as f:
        for line in f:
            t = line.rstrip("\n").split("\t")
            if t[0] == "setup":
                rec["setup"].append((float(t[2]), int(t[3])))
            elif t[0] == "night":
                rec["night"].append((int(t[1]), float(t[2]), int(t[3]),
                                     int(t[4])))
            elif t[0] == "read":
                rec["read"].append((t[1], float(t[2]),
                                    t[3] if len(t) > 3 else ""))
            elif t[0] == "space":
                rec["space"] = int(t[1]) / int(t[2])
            elif t[0] == "applied":
                rec["applied"] = int(t[1])
            elif t[0] == "layer":
                rec["layer"][t[1]] = float(t[2])
    return rec


def verify(changesets, rec, mix, tags, work):
    """Counts (attempted, failed) over folder loads, reads and table checks."""
    attempted = failed = 0
    folders = len(changesets.tables)
    for _, bad in rec["setup"]:
        attempted += folders
        failed += bad
    for _, _, bad, _ in rec["night"]:
        attempted += folders
        failed += bad
    oracle = check.ReadOracle(changesets, rec["applied"], ASOF_NIGHT)
    if len(rec["read"]) != len(mix):
        failed += 1
        print("%d of %d reads ran" % (len(rec["read"]), len(mix)),
              file=sys.stderr)
    for i, ((kind, _, ans), line) in enumerate(zip(rec["read"], mix)):
        args = line.split("\t")
        assert args[0] == kind, "read mix out of step"
        attempted += 1
        if ans != oracle.answer(kind, args[1:]):
            failed += 1
            print("read %d %s: got %r" % (i, kind, ans[:200]), file=sys.stderr)
    digests = {}
    for tag in tags:
        for t in changesets.tables:
            attempted += 1
            ok, digest, msg = check.verify_table(
                changesets, t.name, rec["applied"],
                os.path.join(work, "out", tag, t.name))
            digests.setdefault(t.name, set()).add(digest)
            if not ok:
                failed += 1
                print("%s %s" % (tag, msg), file=sys.stderr)
    for name, seen in digests.items():
        if len(seen) > 1:
            failed += 1
            print("%s: traced and untraced tables differ" % name,
                  file=sys.stderr)
    return attempted, failed


def end_to_end(changesets_stats, rec, ok_ratio):
    nights = rec["night"]
    timed = [(n, s) for n, s, _, _ in nights if n >= TIMED_FROM_NIGHT]
    amp = [b / changesets_stats[n][1] for n, _, _, b in nights]
    reads = rec["read"][WARMUP:]
    by = {}
    for kind, ms, _ in reads:
        by.setdefault(kind, []).append(ms)
    lookups = by["lookup"]
    return {
        "setup_s": statistics.median(s for s, _ in rec["setup"]),
        "night_s_p50": statistics.median(s for _, s in timed),
        "night_rows_per_s": sum(changesets_stats[n][0] for n, _ in timed) /
            sum(s for _, s in timed),
        "write_amp": statistics.median(amp),
        "space_amp": rec["space"],
        "lookup_ms_p50": statistics.median(lookups),
        "lookup_ms_p75": statistics.quantiles(
            lookups, n=4, method="inclusive")[2],
        "keyset_ms_p50": statistics.median(by["keyset"]),
        "range_ms_p50": statistics.median(by["range"]),
        "asof_ms_p50": statistics.median(by["asof"]),
        "history_ms_p50": statistics.median(by["history"]),
        "scan_ms_p50": statistics.median(by["scan"]),
        "reads_per_s": 1000.0 * len(reads) / sum(ms for _, ms, _ in reads),
        "ok_ratio": ok_ratio,
    }


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    try:
        classpath = build.ensure(root, build_dir)
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2

    work = os.path.join(build_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    nights = TRACE_NIGHTS if a.trace else NIGHTS
    changesets = gen.ChangeSets(a.seed, ROWS, nights)
    stats = changesets.write(os.path.join(work, "nights"))
    mix = read_mix(changesets, a.seed,
                   max(2, round(a.seconds / SECONDS_PER_ROUND)))
    with open(os.path.join(work, "reads.tsv"), "w") as f:
        f.write("\n".join(mix) + "\n")
    conf = {
        "work": work, "trace": a.trace, "mode": WORKLOADS[a.workload],
        "setup_reps": SETUP_REPS, "nights": nights, "asof_night": ASOF_NIGHT,
        "warmup": WARMUP,
    }
    conf_path = os.path.join(work, "run.properties")
    with open(conf_path, "w") as f:
        f.writelines("%s=%s\n" % kv for kv in conf.items())

    code = run_jvm(classpath, conf_path, work)
    report = os.path.join(work, "report.tsv")
    if code != 0 or not os.path.exists(report):
        print("benchmark JVM failed (exit %d), see %s" % (
            code, os.path.join(work, "jvm.log")), file=sys.stderr)
        return 3
    rec = parse_report(report)
    tags = ["passA", "passB"] if a.trace else ["untraced"]
    attempted, failed = verify(changesets, rec, mix, tags, work)
    if a.trace:
        metrics = {n: {"value": rec["layer"][n], "unit": u}
                   for n, u in PER_LAYER}
    else:
        values = end_to_end(stats, rec, 1.0 - failed / attempted)
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
