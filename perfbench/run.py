#!/usr/bin/env python3
"""Benchmark of the consumer and the query registry: replays seeded
Kinesis deliveries through `graft.streaming.ConsumerPipeline.multi`, or
runs registry queries from `graft.SparkEntry.queries` over seeded tables,
and prints one JSON result line.

    python3 perfbench/run.py --workload consumer_trickle --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles `src/main/scala`
and `perfbench/scala` into `.bench_build/`; runs write only under
`.bench_work/`. See perfbench/README.md for the metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
CDS = os.path.join(BUILD, "app.jsa")
CDS_FLAGS = ["-Xshare:on", f"-XX:SharedArchiveFile={CDS}"]
JVM_TIMEOUT_S = 170
HEAP = "3g"
PIN_BATCHES = 1
TRACE_BATCHES = 2  # traced runs replay at least this many batches
TRACE_PASSES = 2   # traced analytics runs make at least this many passes
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    return len(os.sched_getaffinity(0))


def spark_jars():
    """The directory of Spark jars the sbt build compiles against
    (`unmanagedBase` in build.sbt), unless SPARK_JARS_DIR overrides it."""
    d = os.environ.get("SPARK_JARS_DIR")
    if not d:
        try:
            sbt = open(os.path.join(ROOT, "build.sbt"), encoding="utf-8").read()
        except OSError:
            fail("no build.sbt: run from the root of a checkout")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            fail("build.sbt names no unmanagedBase jar directory")
        d = m.group(1)
    if not os.path.isdir(d):
        fail(f"Spark jar directory {d} not found")
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def sources():
    found = []
    for top in ("src/main/scala", "perfbench/scala"):
        base = os.path.join(ROOT, top)
        if not os.path.isdir(base):
            fail(f"{top} not found: run from the root of a checkout")
        for d, _, fs in os.walk(base):
            found += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(found)


def build(jars):
    """Compile the program and the harness with scalac into one jar, unless
    the sources are unchanged since the last build, then record a class
    data sharing archive of the classes a replay loads, which every run
    maps instead of loading and verifying those classes again (on 4
    cores this takes 7-9 s off each run's set-up)."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    digest = h.hexdigest()
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp = os.path.join(BUILD, "stamp")
    if (os.path.exists(stamp) and open(stamp).read() == digest
            and os.path.exists(CDS)):
        return jar
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    compiler = [j for j in jars if re.search(
        r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        fail("scala compiler jars not found among the Spark jars")
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath",
                           os.pathsep.join(jars)] + srcs))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
         "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                z.write(os.path.join(d, f),
                        os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    # set up and make one small backlog delivery, then exit: the JVM
    # writes the archive. Every run maps it (`-Xshare:on` refuses to start
    # without it), so a build without an archive is a failed build.
    work = os.path.join(BUILD, "cds")
    for stream in ("warmup", "timed"):
        gen.write_batches(gen.generate("consumer_backlog", 0, 1, stream="warmup"),
                          os.path.join(work, "in", stream))
    code = jvm(jar, jars, "graft.perfbench.Replay", work,
               replay_args("backlog", work, 0, 0, 0),
               [f"-XX:ArchiveClassesAtExit={CDS}"])
    shutil.rmtree(work)
    if code != 0 or not os.path.exists(CDS):
        fail("build failed: no class data archive was written")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)
    return jar


def replay_args(kind, work, seconds, trace, min_batches):
    return [f"workload={kind}", f"in={os.path.join(work, 'in')}",
            f"out={os.path.join(work, 'out')}",
            f"work={os.path.join(work, 'dirs')}", f"seconds={seconds}",
            f"trace={trace}", f"minBatches={min_batches}"]


def jvm(jar, jars, main_class, work, args, extra):
    """Run a harness main class in work/; returns the exit code. The log
    lands in work/jvm.log."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *extra,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([jar] + jars), main_class, *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
               SPARK_LOCAL_DIRS=local)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, cwd=work)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{main_class} did not finish within {JVM_TIMEOUT_S} s")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def read_tsv(path):
    with open(path, encoding="utf-8") as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def eid_of(msg_id):
    m = re.match(r"^B\|eid:([^|]*)\|", msg_id)
    return m.group(1) if m else msg_id


def verdict(states):
    """Message verdict over task-node states, as the pipeline defines it."""
    success = {"Completed", "Succeeded"}
    final = success | {"Rejected", "Discarded", "Abandoned"}
    if all(s in success for s in states):
        return "Completed"
    if all(s in final for s in states):
        return "Discarded"
    if any(s in ("Failed", "TimedOut") for s in states):
        return "Failed"
    return "Unstarted"


def check(spec, batches, result, out):
    """Outcome checks. Returns (failed delivery count, problems)."""
    kind = spec["kind"]
    problems = []
    bad = set()
    by_batch = {}
    for i, d in enumerate(result["deliveries"]):
        by_batch.setdefault(d["batch"], []).append((i, d))
    done = [batches[b] for b in sorted(by_batch)]
    first_shard_batch = {}
    for batch in done:
        for e in batch.usable:
            first_shard_batch.setdefault(batch.shard_of[e], batch.index)

    for batch in done:
        ds = by_batch[batch.index]
        want = batch.deliveries()
        if len(ds) != want:
            problems.append(f"batch {batch.index}: {len(ds)} deliveries, "
                            f"schedule implies {want}")
            bad.add(ds[-1][0])
        for j, (i, d) in enumerate(ds, start=1):
            r = d["result"]
            if "error" in r:
                problems.append(f"batch {batch.index} delivery {j}: {r['error']}")
                bad.add(i)
                continue
            exp = {"messages": len(batch.usable),
                   "unusable": len(batch.undecodable),
                   "rejected": len(batch.rejected), "replay": j < want}
            if j == want:
                perm = len(batch.permanent)
                shards = {batch.shard_of[e] for e in batch.usable}
                exp.update(completed=len(batch.usable) - perm,
                           discarded=perm, failed=0, blocked=0,
                           processAllFailed=0,
                           processAllCompleted=len(shards) if kind == "backlog" else 0)
            got = {k: r[k] for k in exp}
            if got != exp:
                problems.append(f"batch {batch.index} delivery {j}: got {got}, "
                                f"expected {exp}")
                bad.add(i)

    def flag(batch_index, msg):
        problems.append(msg)
        bad.add(by_batch[batch_index][-1][0])

    # task invocations: completed work never re-runs
    got_inv = {k: int(v) for k, v in read_tsv(os.path.join(out, "invocations.tsv"))}
    want_inv = {}
    for batch in done:
        want_inv.update(batch.invocations(kind))
    if kind == "backlog":
        # master state is keyed by shard, so only a shard's first batch runs it
        for shard in first_shard_batch:
            want_inv[f"processAll|S|{shard}"] = 1
    batch_of = {e: batch.index for batch in done for e in batch.shard_of}
    for k in set(got_inv) | set(want_inv):
        if got_inv.get(k) != want_inv.get(k):
            key = k.split("|", 1)[1]
            b = batch_of.get(key, first_shard_batch.get(key[2:], done[-1].index))
            flag(b, f"invocations of {k}: {got_inv.get(k)}, expected {want_inv.get(k)}")

    # dead letters: exactly one envelope per undecodable record and per
    # rejected or discarded message, none repeated across replays
    seen = {}
    for k, env in read_tsv(os.path.join(out, "dlq.tsv")):
        seen.setdefault(dlq_eid(k, env), []).append(k)
    want_dl = {}
    for batch in done:
        want_dl.update(batch.dead_letters())
    for eid in set(seen) | set(want_dl):
        if seen.get(eid) != ([want_dl[eid]] if eid in want_dl else None):
            flag(batch_of.get(eid, done[-1].index),
                 f"dead letters for {eid}: {seen.get(eid)}, expected {want_dl.get(eid)}")

    # final verdicts in the state table
    nodes, markers = {}, {}
    for chain, msg_id, task, state, _ in read_tsv(os.path.join(out, "state.tsv")):
        if chain.startswith("ALL|"):
            if state != "Completed":
                problems.append(f"processAll {chain}: {state}")
                bad.add(len(result["deliveries"]) - 1)
        elif task in ("unusableRecord", "rejectedMessage"):
            markers[msg_id] = task
        else:
            nodes.setdefault(eid_of(msg_id), []).append(state)
    for batch in done:
        perm = batch.permanent
        for e in batch.usable:
            v = verdict(nodes.get(e, ["missing"]))
            want = "Discarded" if e in perm else "Completed"
            if v != want:
                flag(batch.index, f"verdict of {e}: {v}, expected {want}")
        for e in batch.undecodable | batch.rejected:
            want = "unusableRecord" if e in batch.undecodable else "rejectedMessage"
            if markers.get(e) != want:
                flag(batch.index, f"state marker of {e}: {markers.get(e)}")
    return len(bad), problems


CONSUMER_LAYERS = {
    "spark.jobs": "count", "spark.async_jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.sched_overhead_s": "s", "spark.executor_run_s": "s",
    "spark.deserialize_s": "s", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.task_skew": "ratio",
    "decode.s": "s", "decode.unusable": "count", "identify.s": "s",
    "identify.rejected": "count", "sequence.s": "s",
    "sequence.chains": "count", "sequence.max_chain_len": "count",
    "state.load_s": "s", "state.save_s": "s", "state.rows": "count",
    "state.bytes": "bytes", "state.save_growth": "ratio",
    "tasks.exec_s": "s", "tasks.invocations": "count",
    "tasks.useful_ratio": "ratio", "deliveries_per_batch": "count",
    "dlq.envelopes": "count", "dlq.write_s": "s", "delivery_tail_s": "s",
}
COMMON_LAYERS = {"peak_rss_mb": "MB", "trace.latency_s": "s",
                 "trace.overhead_s": "s", "pins.mismatches": "count"}


def query_layers():
    return {f"q.{q}.{m}": u for q in gen.ANALYTICS["queries"]
            for m, u in (("s", "s"), ("jobs", "count"),
                         ("exchanges", "count"), ("shuffle_bytes", "bytes"))}


def fill(metrics, layers):
    """Every per-layer metric is printed on every workload; a layer the
    workload does not run reports 0."""
    for k, u in layers.items():
        metrics.setdefault(k, (0, u))


def consumer_end_to_end(batches, result, gen_s):
    walls = [d["wall_s"] for d in result["deliveries"]]
    n_batches = len({d["batch"] for d in result["deliveries"]})
    records = sum(len(b.records) for b in batches[:n_batches])
    return {
        "records_per_s": (records / result["loop_s"], "rec/s"),
        "latency_s": (stats.median(walls), "s"),
        "setup_s": (gen_s + result["setup_s"], "s"),
    }


def consumer_per_layer(batches, result, out, workload, seed):
    ds = result["deliveries"]
    pin = PIN_BATCHES
    win = [d for d in ds if d["batch"] < pin]
    L = [d["layers"] for d in ds]
    W = [d["layers"] for d in win]

    def med(k):
        return stats.median([x[k] for x in L])

    def mean_w(k):
        return sum(x[k] for x in W) / len(W)

    # rows of the messages this run delivered (not the pre-loaded ones)
    state = [r for r in read_tsv(os.path.join(out, "state.tsv"))
             if ":p" not in r[1]]
    finalised = sum(1 for c, _, t, s, _ in state
                    if not c.startswith("ALL|")
                    and t not in ("unusableRecord", "rejectedMessage")
                    and s in ("Completed", "Succeeded", "Discarded"))
    invocations = {k: int(v) for k, v in
                   read_tsv(os.path.join(out, "invocations.tsv"))}
    # the first `pin` batches: their records, and their shards' masters
    window = {e for b in batches[:pin] for e in b.shard_of}
    window |= {f"S|{b.shard_of[e]}" for b in batches[:pin] for e in b.usable}
    envelopes = sum(1 for k, env in read_tsv(os.path.join(out, "dlq.tsv"))
                    if dlq_eid(k, env) in window)
    walls = [d["wall_s"] for d in ds]
    p, tail_v, n = stats.tail(walls)
    m = {
        "spark.jobs": (mean_w("spark_jobs"), "count"),
        "spark.async_jobs": (mean_w("spark_async_jobs"), "count"),
        "spark.stages": (mean_w("spark_stages"), "count"),
        "spark.tasks": (mean_w("spark_tasks"), "count"),
        "spark.sched_overhead_s": (med("sched_overhead_s"), "s"),
        "spark.executor_run_s": (med("executor_run_s"), "s"),
        "spark.deserialize_s": (med("deserialize_s"), "s"),
        "spark.shuffle_bytes": (mean_w("shuffle_bytes"), "bytes"),
        "spark.spill_bytes": (mean_w("spill_bytes"), "bytes"),
        "spark.task_skew": (med("task_skew"), "ratio"),
        "decode.s": (med("decode_s"), "s"),
        "decode.unusable": (mean_w("unusable"), "count"),
        "identify.s": (med("identify_s"), "s"),
        "identify.rejected": (mean_w("rejected"), "count"),
        "sequence.s": (med("sequence_s"), "s"),
        "sequence.chains": (mean_w("chains"), "count"),
        "sequence.max_chain_len": (max(x["max_chain_len"] for x in W), "count"),
        "state.load_s": (med("state_load_s"), "s"),
        "state.save_s": (med("state_save_s"), "s"),
        "state.rows": (L[-1]["state_rows"], "count"),
        "state.bytes": (L[-1]["state_bytes"], "bytes"),
        "state.save_growth": (stats.growth([x["state_save_s"] for x in L]), "ratio"),
        "tasks.exec_s": (med("exec_s"), "s"),
        "tasks.invocations": (sum(
            n for k, n in invocations.items() if k.split("|", 1)[1] in window), "count"),
        "tasks.useful_ratio": (finalised / sum(invocations.values()), "ratio"),
        "deliveries_per_batch": (len(win) / pin, "count"),
        "dlq.envelopes": (envelopes, "count"),
        "dlq.write_s": (med("dlq_write_s"), "s"),
        "delivery_tail_s": (tail_v, "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
        "trace.latency_s": (stats.median(walls), "s"),
        "trace.overhead_s": (stats.median([
            x["shadow_s"] + x["state_load_s"] + x["state_save_s"] for x in L]), "s"),
    }
    pins = {k: m[k][0] for k in ("spark.jobs", "deliveries_per_batch",
                                 "dlq.envelopes", "tasks.invocations")}
    m["pins.mismatches"] = (compare_pins(workload, seed, pins), "count")
    return m, {"tail_percentile": p, "tail_samples": n}


def run_consumer(a, jars, jar, work):
    """Replay deliveries; returns (correct, attempted, failed, metrics,
    info)."""
    spec = gen.WORKLOADS[a.workload]
    t0 = time.time()
    batches = gen.generate(a.workload, a.seed, timed_batches(a.seconds))
    gen.write_batches(batches, os.path.join(work, "in", "timed"))
    gen.write_batches(gen.generate(a.workload, a.seed, 1, stream="warmup"),
                      os.path.join(work, "in", "warmup"))
    gen_s = time.time() - t0
    code = jvm(jar, jars, "graft.perfbench.Replay", work,
               replay_args(spec["kind"], work, a.seconds, a.trace,
                           TRACE_BATCHES if a.trace else PIN_BATCHES),
               CDS_FLAGS)
    result = jvm_result(a, work, code)
    if not result["deliveries"]:
        fail("no delivery was made")
    out = os.path.join(work, "out")
    failed, problems = check(spec, batches, result, out)
    for p in problems[:20]:
        print(f"perfbench: CHECK FAILED {p}", file=sys.stderr)
    attempted = len(result["deliveries"])
    info = {"deliveries": attempted,
            "batches": len({d["batch"] for d in result["deliveries"]})}
    if a.trace:
        metrics, more = consumer_per_layer(batches, result, out, a.workload,
                                           a.seed)
        info.update(more)
        fill(metrics, query_layers())
    else:
        metrics = consumer_end_to_end(batches, result, gen_s)
    return not problems and failed == 0, attempted, failed, metrics, \
        dict(info, gen_s=gen_s, **result_info(result))


def run_analytics(a, jars, jar, work):
    """Run the query mix; returns (correct, attempted, failed, metrics,
    info)."""
    spec = gen.ANALYTICS
    tables = os.path.join(work, "tables")
    out = os.path.join(work, "out")
    t0 = time.time()
    gen.write_tables(a.seed, tables, spec["events"], spec["documents"])
    gen_s = time.time() - t0
    code = jvm(jar, jars, "graft.perfbench.Analytics", work, [
        f"tables={tables}", f"queries={','.join(spec['queries'])}",
        f"out={out}", f"seed={a.seed}", f"seconds={a.seconds}",
        f"trace={a.trace}", f"minPasses={TRACE_PASSES if a.trace else 1}"],
        CDS_FLAGS)
    result = jvm_result(a, work, code)
    runs = result["runs"]
    by_query = {q: [r for r in runs if r["query"] == q] for q in spec["queries"]}
    # correctness: each result matches its oracle, and every pass of a
    # query returns the same rows in the same order as its last pass
    problems = oracle.compare(tables, out)
    failed = 0
    for q, rs in by_query.items():
        if problems.get(q, "missing") is not None:
            print(f"perfbench: CHECK FAILED {q}: {problems.get(q, 'no result')}",
                  file=sys.stderr)
            failed += len(rs)
            continue
        for r in rs:
            if (r["rows"], r["digest"]) != (rs[-1]["rows"], rs[-1]["digest"]):
                print(f"perfbench: CHECK FAILED {q}: pass {r['pass']} returned "
                      f"other rows than pass {rs[-1]['pass']}", file=sys.stderr)
                failed += 1
    medians = {q: stats.median([r["wall_s"] for r in rs])
               for q, rs in by_query.items()}
    total = sum(medians.values())
    geomean = statistics.geometric_mean(medians.values())
    info = {"passes": result["passes"], "query_total_s": total,
            "query_geomean_s": geomean,
            "query_s": {q: round(v, 4) for q, v in medians.items()}}
    if a.trace:
        metrics = analytics_per_layer(by_query, result, medians, a.seed)
        fill(metrics, CONSUMER_LAYERS)
    else:
        rows = sum(spec["events"] if spec["tables"][q] == "events"
                   else spec["documents"] for q in spec["queries"])
        metrics = {
            "records_per_s": (rows / total, "rec/s"),
            "latency_s": (geomean, "s"),
            "setup_s": (gen_s + result["setup_s"], "s"),
        }
    return failed == 0, len(runs), failed, metrics, \
        dict(info, gen_s=gen_s, **result_info(result))


def analytics_per_layer(by_query, result, medians, seed):
    def per_query(q, k):
        return stats.median([r["layers"][k] for r in by_query[q]])

    def per_pass(k):
        """Median over passes of the pass total of k."""
        totals = {}
        for rs in by_query.values():
            for r in rs:
                totals[r["pass"]] = totals.get(r["pass"], 0) + r["layers"][k]
        return stats.median(list(totals.values()))

    all_runs = [r for rs in by_query.values() for r in rs]
    m = {
        "spark.jobs": (per_pass("sync_jobs"), "count"),
        "spark.async_jobs": (per_pass("async_jobs"), "count"),
        "spark.stages": (per_pass("stages"), "count"),
        "spark.tasks": (per_pass("tasks"), "count"),
        "spark.sched_overhead_s": (per_pass("sched_overhead_s"), "s"),
        "spark.executor_run_s": (per_pass("executor_run_s"), "s"),
        "spark.deserialize_s": (per_pass("deserialize_s"), "s"),
        "spark.shuffle_bytes": (per_pass("shuffle_bytes"), "bytes"),
        "spark.spill_bytes": (per_pass("spill_bytes"), "bytes"),
        "spark.task_skew": (stats.median(
            [r["layers"]["task_skew"] for r in all_runs]), "ratio"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
        "trace.latency_s": (statistics.geometric_mean(medians.values()), "s"),
        "trace.overhead_s": (per_pass("trace_s"), "s"),
    }
    for q in by_query:
        m[f"q.{q}.s"] = (medians[q], "s")
        m[f"q.{q}.jobs"] = (per_query(q, "jobs"), "count")
        m[f"q.{q}.exchanges"] = (per_query(q, "exchanges"), "count")
        m[f"q.{q}.shuffle_bytes"] = (per_query(q, "shuffle_bytes"), "bytes")
    pins = {f"q.{q}.exchanges": m[f"q.{q}.exchanges"][0] for q in by_query}
    m["pins.mismatches"] = (compare_pins("analytics_mix", seed, pins), "count")
    return m


def jvm_result(a, work, code):
    if code != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"{a.workload}: the JVM exited with code {code}")
    return json.load(open(os.path.join(work, "out", "result.json")))


def result_info(result):
    return {"host": dict(result["host"], cds=True),
            "setup_s": result["setup_s"],
            "session_start_s": result["session_start_s"]}


def dlq_eid(kind, env):
    e = json.loads(env)
    body = json.loads(e["record"] if kind == "DR" else e["message"])
    return body.get("eventID") if kind == "DR" else body.get("eid")


def compare_pins(workload, seed, pins):
    """Exact-count pins must repeat across traced runs of one checkout:
    compare with the previous traced run of this workload and seed, flag
    every mismatch on stderr, and keep the new values."""
    path = os.path.join(WORK, "pins", f"{workload}-{seed}.json")
    mismatches = 0
    if os.path.exists(path):
        old = json.load(open(path))
        for k, v in pins.items():
            if old.get(k) != v:
                mismatches += 1
                print(f"perfbench: PIN MISMATCH {workload} seed {seed} {k}: "
                      f"{old.get(k)} then {v}", file=sys.stderr)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    json.dump(pins, open(path, "w"), sort_keys=True)
    return mismatches


def timed_batches(seconds):
    """Enough timed batches that the closed loop does not run dry on a
    host up to three times faster than one batch per ten seconds."""
    return max(TRACE_BATCHES, int(seconds / 3) + 2)


def main():
    # a terminated benchmark stops its JVM too (see `jvm`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(gen.WORKLOADS) + ["analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    jar = build(jars)

    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = run_analytics if a.workload == "analytics_mix" else run_consumer
    correct, attempted, failed, metrics, info = run(a, jars, jar, work)
    if a.trace:
        fill(metrics, COMMON_LAYERS)
        info["spans"] = os.path.relpath(
            os.path.join(work, "out", "spans.jsonl"), ROOT)
    else:
        metrics["success_ratio"] = (1.0 - failed / attempted, "ratio")
    print(json.dumps({"workload": a.workload, "seed": a.seed, **info}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
