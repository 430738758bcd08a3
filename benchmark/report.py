"""End-to-end and per-layer metrics from one run's result, and the
human-readable report."""
import json
import math
import statistics

import gen

# name, unit, better — the end-to-end metrics of BENCHMARK.json
E2E = [
    ("setup_s", "s", "lower"),
    ("query_gmean_ex_steal_s", "s", "lower"),
    ("rows_per_s_ex_steal", "rows/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

# name, unit, better, the end-to-end metric it should move, on which workload
LAYERS = [
    ("sources.open_s", "s", "lower", "query_gmean_ex_steal_s", "interactive (ingest: no change)"),
    ("sources.open_jobs", "count", "lower", "query_gmean_ex_steal_s", "interactive (ingest: no change)"),
    ("sources.read_s", "s", "lower", "query_gmean_ex_steal_s, query_tail_s", "ingest"),
    ("sources.manifest_files", "count", "lower", "query_gmean_ex_steal_s, query_tail_s", "ingest"),
    ("sources.files_read", "count", "lower", "query_gmean_ex_steal_s, query_tail_s", "ingest"),
    ("sources.bytes_read", "bytes", "lower", "query_tail_s", "interactive, ingest"),
    ("sources.rows_read", "rows", "lower", "query_tail_s", "interactive, ingest"),
    ("sources.rows_read_per_row_out", "ratio", "lower", "query_tail_s", "interactive, ingest"),
    ("sources.commit_files", "count", "lower", "commit_p50_s, compact_s, bytes_per_user_byte", "ingest"),
    ("sources.bytes_written", "bytes", "lower", "commit_p50_s, compact_s, bytes_per_user_byte", "ingest"),
    ("sources.compact_bytes_rewritten", "bytes", "lower", "commit_p50_s, compact_s, bytes_per_user_byte", "ingest"),
    ("sources.compact_s", "s", "lower", "rows_per_s_ex_steal", "ingest"),
    ("sources.bytes_per_user_byte", "ratio", "lower", "(space, no time metric)", "ingest"),
    ("sql.parse_s", "s", "lower", "query_gmean_ex_steal_s", "interactive"),
    ("compile.build_s", "s", "lower", "query_gmean_ex_steal_s / rows_per_s_ex_steal", "interactive / curate"),
    ("compile.build_jobs", "count", "lower", "query_gmean_ex_steal_s / rows_per_s_ex_steal", "interactive / curate"),
    ("catalyst.analysis_s", "s", "lower", "query_gmean_ex_steal_s", "interactive"),
    ("catalyst.optimization_s", "s", "lower", "query_gmean_ex_steal_s", "interactive"),
    ("catalyst.planning_s", "s", "lower", "query_gmean_ex_steal_s", "interactive"),
    ("execution.exec_s", "s", "lower", "rows_per_s_ex_steal / query_tail_s", "curate / interactive"),
    ("execution.jobs", "count", "lower", "rows_per_s_ex_steal / query_tail_s", "curate / interactive"),
    ("execution.stages", "count", "lower", "rows_per_s_ex_steal / query_tail_s", "curate / interactive"),
    ("execution.tasks", "count", "lower", "rows_per_s_ex_steal / query_tail_s", "curate / interactive"),
    ("execution.task_s", "s", "lower", "rows_per_s_ex_steal", "curate (interactive: core use stays low)"),
    ("execution.cpu_util", "ratio", "higher", "rows_per_s_ex_steal", "curate (interactive: core use stays low)"),
    ("execution.gc_s", "s", "lower", "rows_per_s_ex_steal", "curate (interactive: core use stays low)"),
    ("execution.shuffle_bytes", "bytes", "lower", "rows_per_s_ex_steal, error_rate", "curate"),
    ("execution.spill_bytes", "bytes", "lower", "rows_per_s_ex_steal, error_rate", "curate"),
    ("execution.failed_tasks", "count", "lower", "rows_per_s_ex_steal, error_rate", "curate"),
    ("streaming.commit_p50_s", "s", "lower", "rows_per_s_ex_steal", "ingest"),
    ("streaming.batch_s", "s", "lower", "commit_p50_s, commit_tail_s", "ingest"),
    ("streaming.add_batch_s", "s", "lower", "commit_p50_s, commit_tail_s", "ingest"),
    ("streaming.batches", "count", "lower", "commit_p50_s, commit_tail_s", "ingest"),
    ("streaming.input_rows", "rows", "higher", "commit_p50_s, commit_tail_s", "ingest"),
    ("streaming.failed_batches", "count", "lower", "commit_p50_s, commit_tail_s", "ingest"),
    ("trace.overhead_ratio", "ratio", "lower", "(traced / untraced replay query_gmean_ex_steal_s - 1, same run)", "all"),
]
LAYER_UNITS = {name: unit for name, unit, *_ in LAYERS}


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n); None when there are ten samples or fewer."""
    n = len(values)
    if n <= 10:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def gmean_of_medians(ops):
    """Geometric mean over statement templates of each template's median
    latency: every template weighs the same, and a median taken across a
    mix of cheap and costly templates cannot flip between them."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["s"])
    return math.exp(statistics.mean(math.log(statistics.median(v)) for v in by.values()))


def end_to_end(workload, result, ops, host, gen_s, inputs):
    """Metrics over `ops`; `host` describes the machine during their
    phase."""
    qops = [o for o in ops if o["kind"] == "query"]
    queries = [o["s"] for o in qops]
    m = {"setup_s": gen_s + result["setup_jvm_s"], "session_s": result["session_s"],
         "stolen": host["steal"] / max(1, host["busy"] + host["steal"]),
         "steal_share": host["steal"] / max(1, host["busy"] + host["idle"] + host["steal"]),
         "query_gmean_s": gmean_of_medians(qops),
         "query_p50_s": statistics.median(queries),
         "peak_rss_mb": result["peak_rss_mb"],
         "query_tail": tail(queries), "queries": len(queries)}
    if workload == "ingest":
        commits = [o["s"] for o in ops if o["kind"] == "commit"]
        compacts = [o["s"] for o in ops if o["kind"] == "compact"]
        writes = sum(o["s"] for o in ops if o["kind"] in ("commit", "compact", "vacuum"))
        m["rows_per_s"] = gen.INGEST_BATCH_ROWS * len(commits) / writes
        m["commit_p50_s"] = statistics.median(commits)
        m["commit_tail"] = tail(commits)
        m["commits"] = len(commits)
        m["compact_s"] = statistics.median(compacts)
        with open(f"{inputs}/tally.json") as f:
            tally = json.load(f)
        m["bytes_per_user_byte"] = (result["checks"]["store_bytes"]
                                    / tally[result["checks"]["committed"] - 1]["input_bytes"])
    else:
        m["rows_per_s"] = (sum(o["rows_in"] for o in ops if o["kind"] == "query")
                           / sum(queries))
    # The hypervisor took `stolen` of the CPU time this VM asked for during
    # the phase, stretching the single client's busy critical path by
    # 1 / (1 - stolen); the _ex_steal figures take that stretch out. The
    # engine's own CPU use is in the denominator, so extra work or waiting
    # by the engine still shows in full.
    m["query_gmean_ex_steal_s"] = m["query_gmean_s"] * (1 - m["stolen"])
    m["rows_per_s_ex_steal"] = m["rows_per_s"] / (1 - m["stolen"])
    return m


def _self_times(spans):
    """Span id -> its duration minus the union of its children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start_s"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_s"]):
            lo, hi = max(c["start_s"], end, s["start_s"]), min(c["end_s"], s["end_s"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = max(0.0, s["end_s"] - s["start_s"] - covered)
    return out


def per_layer(workload, result, e2e, untraced, traced, cores):
    """Per-operation means of every layer metric over the traced phase; a
    layer the workload does not reach reads 0. The overhead compares the
    traced phase with `untraced`, its untraced twin."""
    spans, ops = result["spans"], result["traced_ops"]
    kind = {o["id"]: o["kind"] for o in ops}
    own = _self_times(spans)
    q = [o for o in ops if o["kind"] == "query"]
    c = [o for o in ops if o["kind"] == "commit"]
    k = [o for o in ops if o["kind"] == "compact"]
    nq, nc = max(1, len(q)), max(1, len(c))

    def sel(name=None, kinds=("query",)):
        return [s for s in spans if kind.get(s["op"]) in kinds
                and (name is None or s["name"] == name)]

    def self_s(name):
        return sum(own[s["id"]] for s in sel(name)) / nq

    def counts(field, name=None, kinds=("query",)):
        return sum(s["counts"].get(field, 0.0) for s in sel(name, kinds))

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    exec_wall = sum(s["end_s"] - s["start_s"] for s in sel("execution.exec"))
    rows_out = sum(o["rows_out"] for o in q)
    st = result["streaming"]
    batches = st["batches"]
    return {
        "sources.open_s": self_s("sources.open"),
        "sources.open_jobs": counts("jobs", "sources.open") / nq,
        "sources.read_s": self_s("sources.read"),
        "sources.manifest_files": mean(o.get("manifest_files", 0) for o in q),
        "sources.files_read": mean(o.get("files_read", 0) for o in q),
        "sources.bytes_read": counts("bytes_read") / nq,
        "sources.rows_read": counts("rows_read") / nq,
        "sources.rows_read_per_row_out": counts("rows_read") / max(1, rows_out),
        "sources.commit_files": mean(o["commit_files"] for o in c),
        "sources.bytes_written": counts("bytes_written", kinds=("commit",)) / nc,
        "sources.compact_bytes_rewritten": mean(o["bytes_rewritten"] for o in k),
        "sources.compact_s": e2e.get("compact_s", 0.0),
        "sources.bytes_per_user_byte": e2e.get("bytes_per_user_byte", 0.0),
        "sql.parse_s": self_s("sql.parse"),
        "compile.build_s": self_s("compile.build"),
        "compile.build_jobs": counts("jobs", "compile.build") / nq,
        "catalyst.analysis_s": self_s("catalyst.analysis"),
        "catalyst.optimization_s": self_s("catalyst.optimization"),
        "catalyst.planning_s": self_s("catalyst.planning"),
        "execution.exec_s": self_s("execution.exec"),
        "execution.jobs": counts("jobs", "execution.exec") / nq,
        "execution.stages": counts("stages", "execution.exec") / nq,
        "execution.tasks": counts("tasks", "execution.exec") / nq,
        "execution.task_s": counts("task_s", "execution.exec") / nq,
        "execution.cpu_util": counts("run_s", "execution.exec") / max(1e-9, exec_wall * cores),
        "execution.gc_s": counts("gc_s") / nq,
        "execution.shuffle_bytes": counts("shuffle_bytes") / nq,
        "execution.spill_bytes": counts("spill_bytes") / nq,
        "execution.failed_tasks": counts("failed_tasks", kinds=("query", "commit", "compact", "vacuum")),
        "streaming.commit_p50_s": e2e.get("commit_p50_s", 0.0),
        "streaming.batch_s": st["batch_s"] / batches if batches else 0.0,
        "streaming.add_batch_s": st["add_batch_s"] / batches if batches else 0.0,
        "streaming.batches": batches,
        "streaming.input_rows": st["input_rows"],
        "streaming.failed_batches": st["failed_batches"],
        "trace.overhead_ratio": (traced["query_gmean_ex_steal_s"]
                                 / untraced["query_gmean_ex_steal_s"] - 1),
    }


def _tail_text(t):
    return "n/a (10 samples or fewer)" if t is None else f"{t[0]:.4f} s  (p{t[1]:.0f}, n={t[2]})"


def print_end_to_end(workload, seed, cores, ops, m, attempted, failed):
    rounds = len({o["round"] for o in ops})
    print(f"workload {workload}  seed {seed}  local[{cores}]  closed loop, 1 client  "
          f"{len(ops)} timed operations in {rounds} rounds")
    print("end-to-end (untraced):")
    print(f"  setup_s              {m['setup_s']:.4f} s  (JVM and session start {m['session_s']:.2f} s)")
    print(f"  query_gmean_ex_steal_s {m['query_gmean_ex_steal_s']:.4f} s")
    print(f"  query_gmean_s        {m['query_gmean_s']:.4f} s  (n={m['queries']}, wall)")
    print(f"  query_p50_s          {m['query_p50_s']:.4f} s")
    print(f"  query_tail_s         {_tail_text(m['query_tail'])}")
    unit = "events/s committed" if workload == "ingest" else (
        "docs/s" if workload == "curate" else "input rows/s")
    print(f"  rows_per_s_ex_steal  {m['rows_per_s_ex_steal']:.1f} rows/s  ({unit})")
    print(f"  rows_per_s           {m['rows_per_s']:.1f} rows/s  (wall)")
    if workload == "ingest":
        print(f"  commit_p50_s         {m['commit_p50_s']:.4f} s  (n={m['commits']})")
        print(f"  commit_tail_s        {_tail_text(m['commit_tail'])}")
        print(f"  compact_s            {m['compact_s']:.4f} s")
        print(f"  bytes_per_user_byte  {m['bytes_per_user_byte']:.4f} ratio")
    print(f"  error_rate           {failed / attempted:.4f} ratio  ({failed}/{attempted})")
    print(f"  peak_rss_mb          {m['peak_rss_mb']:.1f} MB")
    print(f"host: the hypervisor took {100 * m['stolen']:.1f}% of the CPU time the VM asked "
          f"for during the phase ({100 * m['steal_share']:.1f}% of all CPU time)")


def print_per_layer(workload, result, layers, untraced, traced, spans_file):
    print(f"per-layer ({workload}, traced phase, per-operation means):")
    print(f"  {'metric':34} {'value':>14} {'unit':6}  should move / on")
    for name, unit, _, moves, on in LAYERS:
        print(f"  {name:34} {layers[name]:14.4f} {unit:6}  {moves} / {on}")
    twin = "an untraced replay" if "replay_ops" in result else "the untraced rounds"
    print(f"tracing overhead: the traced phase vs {twin} in the same run")
    for key in ("query_gmean_ex_steal_s", "query_gmean_s", "stolen"):
        print(f"  {key:20} untraced {untraced[key]:12.4f}   traced {traced[key]:12.4f}")
    print(f"  trace.overhead_ratio {layers['trace.overhead_ratio']:+.4f}")
    own = _self_times(result["spans"])
    agg = {}
    for s in result["spans"]:
        a = agg.setdefault(s["name"], [0, 0.0, 0.0])
        a[0] += 1
        a[1] += s["end_s"] - s["start_s"]
        a[2] += own[s["id"]]
    print(f"spans ({len(result['spans'])} written to {spans_file}):")
    print(f"  {'span':26} {'count':>6} {'total_s':>10} {'self_s':>10}")
    for name, (n, tot, slf) in sorted(agg.items()):
        print(f"  {name:26} {n:6d} {tot:10.4f} {slf:10.4f}")
