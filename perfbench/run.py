"""Benchmark entry point.

    python3 perfbench/run.py --workload link_fold --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One process, one Spark session on
``local[nproc]``, one client in a closed loop. The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a separately traced run (see
``spans.py``). The line before it stamps the host the figures came from;
figures from different hosts are not comparable.

End-to-end metrics (``--trace 0``):

- ``setup_s``: session start until the inputs are ready, median of
  ``SETUP_REPS`` set-ups. The Spark context is stopped and started again
  between them; only the first one also launches the JVM, so the median
  is a context start plus input construction;
- ``first_pass_cpu_s``: CPU seconds of the first pass in the fresh
  session, what a one-shot job pays, Spark codegen included;
- ``pass_cpu_s``: CPU seconds of a steady-state unit, median of the
  units run back to back for ``--seconds`` seconds (at least one; the
  benchmark's one second gives exactly one, the first after the cold
  pass, so its warm-up is the same in every run).

CPU seconds are summed over this process, the JVM and its Python
workers, leaving out the JVM's JIT-compiler threads (``tree_cpu_s``). On
a shared 4-vCPU virtual machine the hypervisor took CPU time away at
random (steal, 2-30% per run), which made the wall time of one pass vary
by a third between runs; the CPU figures do not count steal. Traced runs report the wall times (``wall.*``) and the
steal share (``host.steal_share``).

Operations are passes, folds and catalog queries; ``attempted`` and
``failed`` count them, and one fails when its output check fails. An
operation that raises ends the run with a non-zero exit and no result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
# per-layer figures sum the first pass and this many traced steady units
TRACED_UNITS = 1

END_TO_END = (("setup_s", "s"), ("first_pass_cpu_s", "s"), ("pass_cpu_s", "s"))

_STAGES = ("s1_curated_ids", "s2_gated_ids", "s3_clean_text", "s4_encoded")
CATALOG_FAMILIES = ("lexical-retrieval", "link-graph")
PER_LAYER = (
    ("wall.first_pass_s", "s"), ("wall.pass_s", "s"), ("host.steal_share", "ratio"),
    ("session.get_spark.wall_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_s", "s"),
    ("spark.shuffle_mb", "MB"), ("spark.core_util", "ratio"),
    ("jvm.peak_rss_mb", "MB"),
    ("cleaning.clean_columns.wall_s", "s"),
    ("blocking.generate_blocking_rules.wall_s", "s"),
    ("blocking.generate_blocking_rules.jobs", "count"),
    ("blocking.rules", "count"),
    ("model.estimate_u.wall_s", "s"), ("model.estimate_u.jobs", "count"),
    ("model.estimate_m_em.wall_s", "s"), ("model.estimate_m_em.jobs", "count"),
    ("model.estimate_m_em.iterations", "count"),
    ("model.predict.wall_s", "s"), ("model.predict.pairs", "count"),
    ("model.predict.pair_yield", "ratio"),
    ("cluster.cluster_at_threshold.wall_s", "s"),
    ("cluster.cluster_at_threshold.jobs", "count"),
    ("cluster.connected_components.wall_s", "s"),
    ("cluster.connected_components.jobs", "count"),
    ("metrics.information_gain_power_ratio.wall_s", "s"),
    ("metrics.information_gain_power_ratio.jobs", "count"),
    ("autolink.trial_s", "s"), ("autolink.jobs_per_trial", "count"),
    ("autolink.unlabelled_s", "s"), ("autolink.f1", "ratio"),
    ("tpe.suggest.wall_s", "s"),
    ("linking.align_for_linking.wall_s", "s"),
    ("linking.align_for_linking.jobs", "count"),
    ("incremental.incremental_assign.wall_s", "s"),
    ("incremental.apply_increment.wall_s", "s"),
    ("incremental.fold.jobs", "count"),
    ("incremental.fold.last_over_first", "ratio"),
    *((f"pipeline.{s}.{k}", u) for s in _STAGES
      for k, u in (("wall_s", "s"), ("jobs", "count"), ("task_s", "s"), ("shuffle_mb", "MB"))),
    ("bpe.train_bpe.wall_s", "s"), ("bpe.train_bpe.jobs", "count"),
    ("pack.write_shards.wall_s", "s"), ("pack.write_shards.jobs", "count"),
    ("pipeline.report.jobs", "count"),
    ("pipeline.stage_bytes_per_shard_byte", "ratio"),
    *((f"catalog.{f}.{k}", u) for f in CATALOG_FAMILIES
      for k, u in (("wall_s", "s"), ("jobs", "count"))),
    ("trace.overhead_s", "s"),
)


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class ProgramMissing(RuntimeError):
    pass


# ------------------------------------------------------------------ launcher
def _meminfo_kib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def launcher_env(root: str, work: str) -> dict:
    """Host-safe session settings, applied to this process's environment
    before the JVM starts (the JVM and its Python workers inherit it):
    cores from the affinity mask, driver heap sized from ``MemTotal``
    (a quarter, at most 4 GiB, so it never exceeds the host's RAM),
    Spark scratch and temporary files inside the run's work directory,
    and the checkout on ``PYTHONPATH`` so Python UDF workers can import
    the package."""
    cpus = len(os.sched_getaffinity(0))
    mem_gib = _meminfo_kib() / 2**20
    driver_gib = max(1, min(4, int(mem_gib // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gib}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # compiler threads stay alive, so tree_cpu_s can leave them out
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    return {"cpus": cpus, "mem_total_gib": round(mem_gib, 2), "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"]}


def _commit(root: str) -> str | None:
    """The checked-out commit, read from ``.git`` when the checkout has
    one (a plain source tree has none)."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.isfile(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def host_stamp(root: str, launch: dict, spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        **launch,
        "nproc": os.cpu_count(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": _commit(root),
    }


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        logs = os.path.join(work, "events")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logs,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


_TICK = os.sysconf("SC_CLK_TCK")


def _ticks(path: str) -> tuple[int, str, int]:
    """(parent pid, command name, utime+stime+cutime+cstime ticks) of a
    /proc stat file."""
    with open(path) as f:
        head, _, tail = f.read().rpartition(")")
    fields = tail.split()
    return int(fields[1]), head.partition("(")[2], sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its live descendants (the JVM and its Python workers), each with its
    reaped children, minus the JVM's JIT-compiler threads.

    Time the hypervisor gives to other machines (steal) is not in it,
    and neither is JIT compilation, which runs in the background for
    minutes after start-up and at a pace that depends on timing; both
    make wall time and raw CPU time vary from run to run on a shared
    host."""
    me = os.getpid()
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            parent[int(d)], name, ticks = _ticks(f"/proc/{d}/stat")
            threads = os.listdir(f"/proc/{d}/task") if name == "java" else ()
        except OSError:  # the process ended meanwhile
            continue
        for t in threads:
            try:
                _, tname, tt = _ticks(f"/proc/{d}/task/{t}/stat")
            except OSError:  # the thread ended meanwhile
                continue
            if "CompilerThre" in tname:
                ticks -= tt
        cpu[int(d)] = ticks / _TICK
    total = 0.0
    for pid, secs in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += secs
    return total


def steal_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host's CPUs so far. Steal is time
    the hypervisor gave this machine's CPUs to someone else; a run with a
    high steal share measured the neighbours as much as the program."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# -------------------------------------------------------------------- run
def run(args) -> dict:
    root = os.getcwd()
    for need in ("auto_data_linkage_spark/__init__.py", "tests/febrl_fixture.py",
                 "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(root, need)):
            raise ProgramMissing(f"{need} not found under {root}: run from a checkout root")
    sys.path.insert(0, root)
    sys.path += [os.path.join(root, "tests"), os.path.join(root, "tools")]

    from spans import Tracer, parse_event_log
    from workloads import WORKLOADS

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    launch = launcher_env(root, work)
    from auto_data_linkage_spark.session import get_spark

    wl = WORKLOADS[args.workload](tiny=args.tiny)
    tracer = Tracer()
    conf = session_conf(work, bool(args.trace))
    attempted = failed = 0
    problems: list[str] = []

    def checked(fn, st) -> None:
        nonlocal failed
        try:
            got = fn(st)
        except Exception as e:  # an output check that raises has failed
            got = [f"{fn.__name__} raised {type(e).__name__}: {e}"]
        failed += bool(got)
        problems.extend(got)

    setup_s, session_s = [], []
    spark = None
    try:
        # ---- set-up, SETUP_REPS times; each includes session start
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()  # the JVM stays up; the next set-up starts a new context
            spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
            session_s.append(time.perf_counter() - t0)
            st = wl.setup(spark, args.seed, work)
            setup_s.append(time.perf_counter() - t0)
        log(f"set-up {', '.join(f'{t:.2f}' for t in setup_s)} s")
        host = host_stamp(root, launch, spark)
        print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed}), flush=True)

        if args.trace:
            tracer.sc = spark.sparkContext
            tracer.install()
            tracer.enabled = True

        # ---- first pass (cold)
        attempted += 1
        tracer.pass_id = 0
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with tracer.span("pass"):
            wl.first_pass(st, tracer)
        first_pass_s = time.perf_counter() - t0
        first_cpu = tree_cpu_s() - c0
        log(f"first pass {first_pass_s:.2f} s, cpu {first_cpu:.2f} s")
        checked(wl.check_first, st)

        # ---- steady units, back to back, for --seconds
        units: list[tuple[float, bool]] = []  # (seconds, traced)
        unit_cpu: list[float] = []
        steal0 = steal_ticks()
        t_start = time.perf_counter()
        while True:
            i = len(units)
            enough = time.perf_counter() - t_start >= args.seconds
            if i and enough and (not args.trace or i >= 2 * TRACED_UNITS):
                break
            # traced runs alternate traced / untraced units (ABBA), so
            # the difference of their medians is the tracing overhead
            traced = bool(args.trace) and i % 4 in (0, 3)
            tracer.enabled = traced
            tracer.pass_id = i + 1
            attempted += 1
            t0, c0 = time.perf_counter(), tree_cpu_s()
            with tracer.span("pass"):
                wl.steady(st, tracer)
            units.append((time.perf_counter() - t0, traced))
            unit_cpu.append(tree_cpu_s() - c0)
            tracer.enabled = False
            log(f"steady unit {i} {units[-1][0]:.2f} s, cpu {unit_cpu[-1]:.2f} s"
                f"{' (traced)' if traced else ''}")
            checked(wl.check_steady, st)
        steal1 = steal_ticks()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        log(f"host steal share during the steady units: {steal:.3f}")
        if args.corrupt:
            wl.corrupt(st)
            checked(wl.check_steady, st)
        checked(wl.check_final, st)
        log("checks done")
        attempted += len(wl.queries) * (1 + len(units))

        if not args.trace:
            metrics = {
                "setup_s": statistics.median(setup_s),
                "first_pass_cpu_s": first_cpu,
                "pass_cpu_s": statistics.median(unit_cpu),
            }
            units_of = dict(END_TO_END)
        else:
            diag = diagnostics(wl, st, units)
            rss = jvm_peak_rss_mb()
            tracer.uninstall()
            stop_session(spark)
            spark = None
            jobs = parse_event_log(os.path.join(work, "events"))
            metrics = layer_metrics(tracer, jobs, units, launch["cpus"], diag)
            metrics.update({
                "wall.first_pass_s": first_pass_s,
                "wall.pass_s": statistics.median(t for t, _ in units),
                "host.steal_share": steal,
                "session.get_spark.wall_s": statistics.median(session_s),
                "jvm.peak_rss_mb": rss,
            })
            units_of = dict(PER_LAYER)
            os.makedirs(os.path.join(HERE, ".work", "spans"), exist_ok=True)
            tracer.dump(os.path.join(
                HERE, ".work", "spans", f"{args.workload}-s{args.seed}.json"
            ))
    finally:
        tracer.uninstall()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    log("session stopped")
    for p in problems:
        print("CHECK FAILED:", p, file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units_of[k]} for k in units_of},
    }


def diagnostics(wl, st, units) -> dict:
    """Figures the traced run reports besides spans, taken after the
    timed loop: F1 of the searched clustering, predicted pairs of the
    final linkage, a second fold's latency over a first fold's, and the
    stage-store size of the training-set pass."""
    out = {}
    if wl.name == "link_fold":
        from pyspark.sql import functions as F

        linker = st["linker"]
        preds = linker._predict(linker.best_trial.model)
        row = preds.agg(
            F.count("*").alias("n"),
            F.sum((F.col("match_probability") >= wl.threshold).cast("long")).alias("hit"),
        ).first()
        out["model.predict.pairs"] = row["n"]
        out["model.predict.pair_yield"] = (row["hit"] or 0) / row["n"] if row["n"] else 0.0
        out["autolink.f1"] = wl.f1(st)
        first = statistics.median(t for t, _ in units)
        out["incremental.fold.last_over_first"] = wl.fold_again(st) / first
    else:
        out_dir = os.path.dirname(st.reports[0]["shards_path"])
        stage_b = _du(os.path.join(out_dir, "_stages"))
        shard_b = _du(st.reports[0]["shards_path"])
        out["pipeline.stage_bytes_per_shard_byte"] = stage_b / shard_b if shard_b else 0.0
    return out


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def layer_metrics(tracer, jobs, units, cpus: int, diag: dict) -> dict:
    """Per-layer figures from spans and the event log, summed over the
    first pass and the first ``TRACED_UNITS`` traced steady units."""
    from collections import defaultdict

    from spans import jobs_by_span, self_times, subtree

    spans = tracer.spans
    selft = self_times(spans)
    jmap = jobs_by_span(jobs)
    traced_ids = {s.pass_id for s in spans if s.name == "pass" and s.pass_id}
    keep = {0, *sorted(traced_ids)[:TRACED_UNITS]}
    by_name: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s.pass_id not in keep:
            continue
        agg = by_name[s.name]
        agg["wall_s"] += selft[s.sid]
        agg["n"] += 1
        for j in jmap.get(s.sid, ()):
            agg["jobs"] += 1
            agg["task_s"] += j.task_s
            agg["shuffle_mb"] += j.shuffle_bytes / 2**20
        if s.result is not None:
            agg["result"] += s.result if isinstance(s.result, (int, float)) else len(s.result)

    m = {name: 0.0 for name, _ in PER_LAYER}
    for name, _ in PER_LAYER:
        layer, _, kind = name.rpartition(".")
        if layer in by_name and kind in ("wall_s", "jobs", "task_s", "shuffle_mb"):
            m[name] = by_name[layer][kind]
    m["blocking.rules"] = by_name["blocking.generate_blocking_rules"]["result"]
    m["model.estimate_m_em.iterations"] = by_name["model.estimate_m_em"]["result"]

    # spark.* per steady pass: every job under the unit's pass span
    per_pass = []
    for s in spans:
        if s.name == "pass" and s.pass_id in keep and s.pass_id != 0:
            js = [j for sid in subtree(spans, s.sid) for j in jmap.get(sid, ())]
            task_s = sum(j.task_s for j in js)
            wall = s.end - s.start
            per_pass.append({
                "spark.jobs": len(js), "spark.tasks": sum(j.tasks for j in js),
                "spark.task_s": task_s,
                "spark.shuffle_mb": sum(j.shuffle_bytes for j in js) / 2**20,
                "spark.core_util": task_s / (wall * cpus) if wall else 0.0,
            })
    for k in ("spark.jobs", "spark.tasks", "spark.task_s", "spark.shuffle_mb", "spark.core_util"):
        m[k] = statistics.median(p[k] for p in per_pass) if per_pass else 0.0

    # autolink: a trial runs from one estimate_u call to the next
    search = [s for s in spans if s.name == "pass" and s.pass_id == 0]
    u_starts = sorted(s.start for s in spans if s.name == "model.estimate_u" and s.pass_id == 0)
    if u_starts and search:
        bounds = u_starts + [search[0].end]
        trials = [b - a for a, b in zip(bounds, bounds[1:])]
        m["autolink.trial_s"] = statistics.median(trials)
        first_u = u_starts[0]
        in_trials = [s for s in spans if s.pass_id == 0 and s.start >= first_u]
        m["autolink.jobs_per_trial"] = sum(len(jmap.get(s.sid, ())) for s in in_trials) / len(trials)
        m["autolink.unlabelled_s"] = selft[search[0].sid]

    # incremental: jobs per fold in the traced units
    fold_jobs = []
    for s in spans:
        if s.name == "pass" and s.pass_id in keep and s.pass_id != 0:
            tree = subtree(spans, s.sid)
            folds = sum(spans[i].name == "incremental.incremental_assign" for i in tree)
            if folds:
                fold_jobs.append(sum(len(jmap.get(i, ())) for i in tree) / folds)
    if fold_jobs:
        m["incremental.fold.jobs"] = statistics.median(fold_jobs)

    traced = [t for t, tr in units if tr]
    plain = [t for t, tr in units if not tr]
    if traced and plain:
        m["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    m.update(diag)
    return m


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test size (inputs a fraction of the benchmark's)")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: damage the outputs before the checks")
    args = ap.parse_args(argv)
    try:
        result = run(args)
    except ProgramMissing as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
