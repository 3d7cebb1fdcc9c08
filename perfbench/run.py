"""Benchmark of the wiki-dump -> ranks pipeline and the graph-query catalog.

    python3 perfbench/run.py --workload wiki_links --seed 1 --seconds 10 --trace 0

Run from the repository root, with a JDK and a Spark distribution on the
machine (`SPARK_HOME`, or `spark-submit` on the PATH) and nothing beyond
the Python standard library.  The first run in a checkout compiles the
program with the harness (perfbench/harness) using the Scala compiler
that ships in Spark's jars.  Each run generates its inputs from the seed,
drives the program in fresh JVMs, checks every output against an
independent answer, and prints the metrics; the last line of standard
output is one JSON record.  See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(WORK, "classes")
PINNED = os.path.join(HERE, "fingerprints.json")

# Input sizes.  A run holds a cold unit, a closed loop of later units,
# three fresh-JVM start-ups and the output checks, in about a minute.
# wiki_links' dump: link-dense, ~40 Zipf-targeted links per page, short bodies
PAGES, LINKS_PER_PAGE, BODY_WORDS = 6000, 40, 10
# graph_serve's fixed citation graph (|V| = customers + suppliers)
SERVE = dict(customers=1500, suppliers=100, orders=15000)
# seconds kept back for each fresh JVM still to start after the main one
JVM_RESERVE = 10
WORKLOADS = ["wiki_links", "graph_serve"]
ITERS = 8
CUT = 5.0  # WikiPipeline's rank > 5/N output threshold
SETUP_SAMPLES = 3  # fresh JVMs per run whose start-up is timed
HEAP = "3g"

LAYERS = ["sources.xml", "wiki.ingest", "graph.linkgraph", "graph.pagerank",
          "graph.graphx", "wiki.sink", "graph.catalog", "graph.loops"]
# every layer reports these; BENCHMARK.json lists them with the extras
LAYER_METRICS = ["wall_s", "busy_s", "cpu_s", "idle_slot_s", "jobs", "tasks",
                 "shuffle_write_mb", "spill_mb", "gc_s", "failed_tasks"]

# JDK 17 module openings Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    return os.path.join(spark_home(), "jars", "*")


def sources():
    """Every file the build reads: the program's sources and resources
    and the harness."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile program + harness once per source state, with the Scala
    compiler in Spark's jars, into CLASSES (resources copied alongside)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no program sources under src/main/scala/graft; "
                 "run from the root of a checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    log("perfbench: compiling the program and harness")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(WORK, "scalac.args")
    with open(argfile, "w") as f:  # paths relative to ROOT: no spaces to quote
        f.write("\n".join(os.path.relpath(x, ROOT) for x in sources()
                          if x.endswith(".scala")))
    r = subprocess.run([java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                        "-cp", spark_jars(),
                        "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
                        "-classpath", spark_jars(), "@" + argfile],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    shutil.copytree(os.path.join(ROOT, "src", "main", "resources"), CLASSES,
                    dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def nproc():
    return len(os.sched_getaffinity(0))


def jvm(mode, run_dir, timeout, **kw):
    """Run one harness JVM; returns (record or None, spawn epoch seconds)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    record = os.path.join(run_dir, f"{mode}-{time.monotonic_ns()}.json")
    args = [java(), f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
            "-cp", CLASSES + os.pathsep + spark_jars(),
            "perfbench.Harness", mode, f"record={record}", f"cpus={nproc()}",
            f"work={run_dir}"] + [f"{k}={v}" for k, v in kw.items()]
    # Spark binds to the loopback address unless told otherwise
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "ab") as logf:
        t0 = time.time()
        try:
            subprocess.run(args, cwd=run_dir, env=env, stdout=logf, stderr=logf,
                           timeout=timeout, check=True)
        except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
            with open(jvm_log, errors="replace") as f:
                log("".join(f.readlines()[-20:]))
            log(f"perfbench: harness {mode} failed: {e}")
            return None, t0
    with open(record) as f:
        return json.load(f), t0


def read_text(d):
    lines = []
    for p in sorted(glob.glob(os.path.join(d, "part-*"))):
        with open(p) as f:
            lines += f.read().splitlines()
    return lines


def check_ranked(d, ref, index):
    """An iter<k>/ output against the reference vector: exactly the pages
    above the 5/N cut, their values, in descending rank order."""
    n = len(ref)
    cut = CUT / n
    rows = [ln.split("\t") for ln in read_text(d)]
    if any(len(r) != 2 for r in rows):
        return f"{d}: a line is not `page<TAB>rank`"
    got = [(p, float(r)) for p, r in rows]
    for (p0, r0), (p1, r1) in zip(got, got[1:]):
        if r0 < r1 or (r0 == r1 and p0 >= p1):
            return f"{d}: not in descending rank order at {p1}"
    seen = set()
    for p, r in got:
        i = index.get(p)
        if i is None or r <= cut:
            return f"{d}: unexpected row {p} {r}"
        if abs(r - ref[i]) > 1e-9 * ref[i]:
            return f"{d}: {p} rank {r} != reference {ref[i]}"
        seen.add(i)
    # pages within rounding of the cut may fall on either side
    must = {i for i in range(n) if ref[i] > cut * (1 + 1e-9)}
    if not must <= seen:
        return f"{d}: {len(must - seen)} pages above the cut missing"
    return None


def check_pipeline(unit, exp):
    """None if the unit's outputs match the reference, else the mismatch."""
    if unit.get("error"):
        return unit["error"]
    index, ranks = exp["index"], exp["ranks"]
    n = len(index)
    out = unit["out"]
    if unit.get("n") != n:
        return f"N {unit.get('n')} != {n}"
    if read_text(os.path.join(out, "n")) != [f"N =\t{n}"]:
        return "n/ does not hold the page count"
    if "edges" in unit and unit["edges"] != exp["edges"]:
        return f"traced edge count {unit['edges']} != {exp['edges']}"
    for it in (1, ITERS):
        bad = check_ranked(os.path.join(out, f"iter{it}"), ranks[it - 1], index)
        if bad:
            return bad
    # snapshots/ (parquet) as text, written by the harness's snapshots mode
    if not os.path.exists(os.path.join(out, "snapshots.tsv")):
        return "no snapshots/"
    with open(os.path.join(out, "snapshots.tsv")) as f:
        snap = [ln.split("\t") for ln in f.read().splitlines()]
    if sorted(p for p, _, _ in snap) != sorted(index) or \
            {it for _, _, it in snap} != {"1"}:
        return "snapshots/ does not hold the iteration-1 vector"
    r1 = ranks[0]
    for p, r, _ in snap:
        if abs(float(r) - r1[index[p]]) > 1e-9 * r1[index[p]]:
            return f"snapshot rank of {p} {r} != reference"
    return None


def check_serve(unit, pinned):
    if unit.get("error"):
        return unit["error"]
    fps = unit["fingerprints"]
    if set(fps) != set(pinned):
        return f"query set differs from the pinned set: {sorted(set(fps) ^ set(pinned))}"
    bad = sorted(q for q in fps if fps[q] != pinned[q])
    return f"fingerprint mismatch: {bad}" if bad else None


def layer_metrics(traced, cores):
    """Per-layer metrics of a traced run: each traced unit's spans summed
    per layer (self time and self counters, plus the span extras), then
    the median over the traced units."""
    per_unit = []
    for u in traced:
        m = {f"{layer}.{k}": 0.0 for layer in LAYERS for k in LAYER_METRICS}
        for s in u["spans"]:
            layer = s["name"]
            m[f"{layer}.wall_s"] += s["self_s"]
            for k in ("busy_s", "cpu_s", "jobs", "tasks", "shuffle_write_mb",
                      "spill_mb", "gc_s", "failed_tasks"):
                m[f"{layer}.{k}"] += s[k]
            m[f"{layer}.idle_slot_s"] += s["self_s"] * cores - s["busy_s"]
            for k, v in s["extra"].items():
                m[f"{layer}.{k}"] = v
            if layer == "sources.xml":
                m["sources.xml.mb_read"] = s["mb_read"]
        m["trace_wall_s"] = u["wall_s"]
        per_unit.append(m)
    keys = set().union(*per_unit)
    return {k: statistics.median([m[k] for m in per_unit if k in m]) for k in keys}


def result_line(correct, attempted, failed, metrics, spec_metrics):
    """The record's last line: exactly the metrics BENCHMARK.json names."""
    return json.dumps({"correct": correct, "attempted": attempted,
                       "failed": failed,
                       "metrics": {x["name"]: {"value": metrics.get(x["name"], 0.0),
                                               "unit": x["unit"]}
                                   for x in spec_metrics}})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build()
    # runs are sequential: scratch left by an interrupted run goes too
    for old in glob.glob(os.path.join(WORK, "run-*")):
        shutil.rmtree(old, ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        run(a, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(a, spec, run_dir):
    deadline = time.time() + 170  # the run must end within 180 s
    pipeline = a.workload == "wiki_links"
    setup = []  # start-up seconds of each fresh JVM

    def side_jvm(mode, **kw):
        """A fresh JVM besides the main one; its start-up is a set-up sample."""
        r, t0 = jvm(mode, run_dir, timeout=deadline - time.time(), **kw)
        if r is None:
            sys.exit(f"perfbench: the {mode} JVM did not finish")
        setup.append(r["ready_epoch_s"] - t0)

    if pipeline:
        dump = os.path.join(run_dir, "dump.xml")
        d = gen.wiki_dump(dump, a.seed, PAGES, LINKS_PER_PAGE, BODY_WORDS)
        exp = {"index": {t: i for i, t in enumerate(d.titles)}, "edges": len(d.src),
               "ranks": gen.reference_pagerank(len(d.titles), d.src, d.dst, ITERS)}
        log(f"perfbench: {a.workload} dump {d.n_bytes / 1e6:.1f} MB, "
            f"{len(d.titles)} pages, {d.links_raw} raw links, {len(d.src)} edges")
        kw = dict(dump=dump, out=os.path.join(run_dir, "out"))
    else:
        data = os.path.join(run_dir, "data")
        side_jvm("tables", data=data, **SERVE)
        with open(PINNED) as f:
            pinned = json.load(f)
        kw = dict(data=data, seed=a.seed)
    # JVMs still to start after the main one: the snapshot export and the
    # untraced run's remaining set-up samples
    after = max(int(pipeline), 0 if a.trace else SETUP_SAMPLES - 1 - len(setup))
    rec, spawned = jvm("pipeline" if pipeline else "serve", run_dir,
                       timeout=deadline - time.time() - JVM_RESERVE * after,
                       seconds=a.seconds, trace=a.trace, **kw)
    if rec is None:
        sys.exit("perfbench: the harness did not finish")
    setup.append(rec["ready_epoch_s"] - spawned)
    if pipeline:
        side_jvm("snapshots", out=kw["out"])
    units = rec["units"]
    failures = [check_pipeline(u, exp) if pipeline else check_serve(u, pinned)
                for u in units]
    for u, bad in zip(units, failures):
        if bad:
            log(f"perfbench: {u['kind']} unit failed: {bad}")
    failed = sum(1 for b in failures if b)
    later = [u for u in units if u["kind"] == "run"]
    traced = [u for u in units if u["kind"] == "traced"]
    spec_metrics = spec["per_layer" if a.trace else "end_to_end"]
    if not later or (a.trace and not traced):
        # a unit threw before any later unit ran: nothing to derive
        print(result_line(False, len(units), failed, {}, spec_metrics))
        return

    if a.trace:
        m = layer_metrics(traced, nproc())
        m["trace_overhead_s"] = (m["trace_wall_s"]
                                 - statistics.median([u["wall_s"] for u in later]))
        if pipeline:
            # equal work on both sides: the untraced pipeline has no GraphX run
            m["trace_overhead_s"] -= m["graph.graphx.wall_s"]
            m["wiki.ingest.links_raw"] = d.links_raw
            m["wiki.ingest.link_yield"] = m["wiki.ingest.links_valid"] / d.links_raw
            m["graph.linkgraph.edges"] = exp["edges"]
            m["graph.linkgraph.keep_ratio"] = exp["edges"] / m["wiki.ingest.links_valid"]
        else:
            cat = {s["name"]: s["self_s"] for s in rec["catalog"]}
            m["graph.catalog.build_s"] = cat["graph.catalog.build"]
            m["graph.catalog.serve_s"] = cat["graph.catalog.serve"]
        total = m["trace_wall_s"]
        print(f"workload {a.workload} seed {a.seed}: traced wall {total:.3f} s, "
              f"layers sum to {sum(m[x + '.wall_s'] for x in LAYERS) / total:.1%}, "
              f"trace overhead {m['trace_overhead_s']:.3f} s")
        for x in LAYERS:
            print(f"  {x:16s} {m[x + '.wall_s']:8.3f} s {m[x + '.wall_s'] / total:6.1%}"
                  f"  jobs {m[x + '.jobs']:4.0f}  tasks {m[x + '.tasks']:5.0f}")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json"),
                  "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "host": rec["host"],
                       "metrics": m, "units": units}, f)
    else:
        while len(setup) < SETUP_SAMPLES:
            side_jvm("setup")
        m = {"setup_s": statistics.median(setup), "first_s": units[0]["wall_s"],
             "run_s": statistics.median([u["wall_s"] for u in later]),
             "fail_ratio": failed / len(units)}
        for k, name in (("shuffle_write_mb", "shuffle_write_mb"),
                        ("peak_storage_mb", "peak_storage_mb"),
                        ("jobs", "spark_jobs"), ("tasks", "spark_tasks")):
            m[name] = statistics.median([u[k] for u in later])
        if pipeline:
            rate = ("pages_per_s", len(exp["index"]) / m["run_s"], "pages/s")
        else:
            rate = ("queries_per_s", rec["queries"] / m["run_s"], "queries/s")
        m[rate[0]] = rate[1]
        print(f"workload {a.workload} seed {a.seed}: median of {len(later)} later "
              f"units (too few samples for a higher percentile)")
        for k, u in (("setup_s", "s"), ("first_s", "s"), ("run_s", "s"),
                     (rate[0], rate[2]), ("shuffle_write_mb", "MB"),
                     ("spark_jobs", "count"), ("spark_tasks", "count"),
                     ("peak_storage_mb", "MB"), ("fail_ratio", "ratio")):
            print(f"  {k:18s} {m[k]:12.4f} {u}")
    host = rec["host"]
    print(f"host: nproc {host['nproc']}, heap {host['heap_max_mb']:.0f} MB, "
          f"Spark {host['spark']}, Java {host['java']}, "
          f"loadavg {host['loadavg_start']} -> {host['loadavg_end']}")
    print(result_line(failed == 0, len(units), failed, m, spec_metrics))


if __name__ == "__main__":
    main()
