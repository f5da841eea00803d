"""Metrics of one run, computed from the JVM's report.

`end_to_end` gives what a user of the program sees; `per_layer` gives the
per-layer counters and each layer's self time from a traced run. Both
return {name: (value, unit)}; the run prints the ones BENCHMARK.json
lists, and its record keeps all of them.
"""
import math
import re
import statistics

LAYERS = ["plans", "sources", "streaming", "operators", "spark", "jvm"]
COMMIT_PHASES = ["stage", "stagePlan", "stageJob", "footerHarvest", "stageDeletes",
                 "validateStaged", "commit", "publish"]
LAKEHOUSE_KINDS = ["insert", "merge", "update", "delete", "txn", "optimize",
                   "point_read", "range_read", "agg_read", "asof_read", "cdf_read"]
# operator families, by op name (graft/operators/<family>)
FAMILIES = [(re.compile(r"dd\d+_"), "dedup"), (re.compile(r"tx\d+_"), "textual"),
            (re.compile(r"ss\d+_"), "similarity"), (re.compile(r"q(98|108)_"), "graph")]
# ops that share one cached artifact in SparkEntry; the first of a group
# in a pass builds it, the others reuse it
SHARED_GROUPS = [["dd4_minhash_lsh", "dd7_clusters", "dd8_dedup_apply", "dd18_softdedup",
                  "dd19_representative"],
                 ["dd6_embed_dup", "dd9_embed_dedup", "dd16_semdedup"],
                 ["tx21_suffix_ranks", "tx22_lcp_array"],
                 ["tx19_dup_spans", "tx20_span_clean"],
                 ["ss7_nnd_recall", "ss8_graph_search"]]


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_pct(n):
    """The highest whole percentile with at least ten samples beyond it;
    never below the median (with fewer than 20 samples it is the median)."""
    return max(50, math.floor(100.0 * (n - 10) / n)) if n else 50


def family(name):
    for pattern, fam in FAMILIES:
        if pattern.match(name):
            return fam
    return None


def op_layer(workload, name):
    """The layer an op calls into: its span's self time goes there."""
    if workload == "lakehouse":
        return "sources"
    if family(name):
        return "operators"
    if "stream" in name:
        return "streaming"
    return "plans"


def end_to_end(rep, setup_s, write_kinds):
    ops = rep["ops"]
    lat = [o["dur_ms"] for o in ops]
    if rep["workload"] == "lakehouse":
        reads = [o["dur_ms"] for o in ops if o["kind"] not in write_kinds]
        writes = [o["dur_ms"] for o in ops if o["kind"] in write_kinds]
    else:
        reads, writes = lat, []
    out = {
        "setup_s": (setup_s, "s"),
        "wall_s": ((rep["timed_end_ms"] - rep["first_op_ms"]) / 1e3, "s"),
        "cpu_s": (rep["counters"]["cpu_s"], "s"),
        "op_p50_ms": (percentile(lat, 50), "ms"),
        "op_tail_ms": (percentile(lat, tail_pct(len(lat))), "ms"),
        "op_tail_pct": (tail_pct(len(lat)), "%"),
        "n_ops": (len(lat), "count"),
        "read_p50_ms": (percentile(reads, 50), "ms"),
        "read_tail_ms": (percentile(reads, tail_pct(len(reads))), "ms"),
        "read_tail_pct": (tail_pct(len(reads)), "%"),
        "n_reads": (len(reads), "count"),
        "peak_rss_mb": (rep["vm_hwm_mb"], "MB"),
    }
    if writes:
        x = rep["extra"]
        per_row = x["compact_bytes"] / max(1, x["live_rows"])
        out.update({
            "write_p50_ms": (percentile(writes, 50), "ms"),
            "write_tail_ms": (percentile(writes, tail_pct(len(writes))), "ms"),
            "write_tail_pct": (tail_pct(len(writes)), "%"),
            "n_writes": (len(writes), "count"),
            "write_amp": (x["bytes_written"] / max(1.0, x["changed_rows"] * per_row), "ratio"),
            "space_amp": (x["referenced_bytes"] / max(1, x["compact_bytes"]), "ratio"),
        })
    return out


def _union(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv, w):
    return (max(iv[0], w[0]), min(iv[1], w[1]))


def _inside(iv, w):
    return iv[0] >= w[0] and iv[0] < w[1]


def per_layer(rep):
    workload = rep["workload"]
    ops = rep["ops"]
    tr = rep["trace"]
    c = rep["counters"]
    tot = rep["totals"]
    ids = {o["counters"]["id"]: o for o in ops}
    windows = {o["counters"]["id"]: (o["start_ms"], o["start_ms"] + o["dur_ms"]) for o in ops}
    jobs = [j for j in tr["jobs"] if j["op"] in ids and j["end_ms"] >= j["start_ms"]]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in tr["stages"] if s["id"] in stage_ids and s["op"] in ids]

    def op_of(t):
        for i, w in windows.items():
            if w[0] <= t < w[1]:
                return i
        return None

    phases = [(s, e, n) for s, e, n in tr["phases"] if op_of(s) is not None]
    batches = [b for b in tr["batches"] if op_of(b["start_ms"]) is not None]
    for b in batches:
        b["end_ms"] = b["start_ms"] + b["durations"].get("triggerExecution", 0)

    out = {}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    # plans
    for p in ("analysis", "optimization", "planning"):
        put(f"plans.{p}_s", sum(e - s for s, e, n in phases if n == p) / 1e3, "s")
    put("plans.executions", sum(1 for _, _, n in phases if n == "planning"), "count")
    put("plans.rule_s", c["rule_s"], "s")
    put("plans.rule_runs", c["rule_runs"], "count")
    put("plans.resolve_datasource_s", c["resolve_datasource_s"], "s")
    put("plans.resolve_datasource_runs", c["resolve_datasource_runs"], "count")
    put("plans.resolve_relations_s", c["resolve_relations_s"], "s")

    # spark
    put("spark.jobs", len(jobs), "count")
    put("spark.stages", len(stages), "count")
    put("spark.tasks", sum(s["tasks"] for s in stages), "count")
    busy = sum(_union([_clip((j["start_ms"], j["end_ms"]), windows[j["op"]])
                       for j in jobs if j["op"] == i]) for i in windows)
    op_total = sum(o["dur_ms"] for o in ops)
    put("spark.job_busy_s", busy / 1e3, "s")
    put("spark.no_job_s", (op_total - busy) / 1e3, "s")
    put("spark.task_cpu_s", sum(s["cpu_ns"] for s in stages) / 1e9, "s")
    put("spark.task_run_s", sum(s["run_ms"] for s in stages) / 1e3, "s")
    put("spark.task_gc_s", sum(s["gc_ms"] for s in stages) / 1e3, "s")
    put("spark.codegen_compile_s", tot["codegen_compile_s"], "s")
    put("spark.codegen_compile_timed_s", c["codegen_compile_s"], "s")
    for k, name in (("shuffle_write", "shuffle_write_bytes"), ("shuffle_read", "shuffle_read_bytes"),
                    ("spill", "spill_bytes"), ("input", "input_bytes"), ("output", "output_bytes")):
        put(f"spark.{name}", sum(s[k] for s in stages), "bytes")

    # sources
    for kind in LAKEHOUSE_KINDS:
        d = [o["dur_ms"] for o in ops if o["kind"] == kind]
        put(f"sources.{kind}_ms", statistics.median(d) if d else 0.0, "ms")
    for p in COMMIT_PHASES:
        put(f"sources.{p}_s", c.get(f"commit.{p}_s", 0.0), "s")
        put(f"sources.{p}_n", c.get(f"commit.{p}_n", 0.0), "count")
    x = rep["extra"]
    versions = x.get("versions", 0)
    put("sources.versions", versions, "count")
    put("sources.commit_calls_per_version", c.get("commit.commit_n", 0.0) / versions if versions else 0.0,
        "ratio")
    for k in ("files_written", "files_live", "bytes_written"):
        put(f"sources.{k}", x.get(k, 0), "bytes" if k.startswith("bytes") else "count")
    by_index = {i: b for i, b in x.get("live_bytes_at_read", [])}
    ratios = []
    for i, o in enumerate(ops):
        if i in by_index and by_index[i] > 0:
            read = sum(s["input"] for s in stages if s["op"] == o["counters"]["id"])
            ratios.append(read / by_index[i])
    put("sources.scan_bytes_ratio", statistics.mean(ratios) if ratios else 0.0, "ratio")

    # streaming
    dur = lambda b, k: b["durations"].get(k, 0) / 1e3  # noqa: E731
    put("streaming.queries", tr["stream_queries"], "count")
    put("streaming.batches", len(batches), "count")
    put("streaming.batch_p50_ms",
        statistics.median([b["durations"].get("triggerExecution", 0) for b in batches]) if batches else 0,
        "ms")
    for k, name in (("addBatch", "add_batch"), ("queryPlanning", "query_planning"),
                    ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets"),
                    ("latestOffset", "latest_offset")):
        put(f"streaming.{name}_s", sum(dur(b, k) for b in batches), "s")
    put("streaming.state_commit_s", sum(b["state_commit_ms"] for b in batches) / 1e3, "s")
    put("streaming.state_rows", sum(b["state_rows"] for b in batches), "count")
    put("streaming.state_memory_bytes", max([b["state_memory"] for b in batches], default=0), "bytes")

    # operators
    for fam in ("dedup", "textual", "similarity", "graph"):
        put(f"operators.{fam}_s", sum(o["dur_ms"] for o in ops if family(o["name"]) == fam) / 1e3, "s")
    op_ops = [o for o in ops if family(o["name"])]
    op_ids = {o["counters"]["id"] for o in op_ops}
    put("operators.jobs_per_op",
        sum(1 for j in jobs if j["op"] in op_ids) / len(op_ops) if op_ops else 0.0, "ratio")
    build = reuse = 0.0
    for group in SHARED_GROUPS:
        seen = set()
        for o in ops:
            if o["name"] in group:
                key = o["pass"]
                if key in seen:
                    reuse += o["dur_ms"]
                else:
                    build += o["dur_ms"]
                    seen.add(key)
    put("operators.shared_build_s", build / 1e3, "s")
    put("operators.shared_reuse_s", reuse / 1e3, "s")

    # jvm
    put("jvm.jit_s", tot["jit_s"], "s")
    put("jvm.jit_timed_s", c["jit_s"], "s")
    put("jvm.gc_s", c["gc_s"], "s")
    put("jvm.gc_count", c["gc_count"], "count")
    put("jvm.heap_peak_mb", c["heap_peak_mb"], "MB")

    # self time per layer: a span's duration minus what its children cover
    self_ms = {layer: 0.0 for layer in LAYERS}
    for i, w in windows.items():
        o = ids[i]
        bs = [(b["start_ms"], b["end_ms"]) for b in batches if _inside((b["start_ms"], b["end_ms"]), w)]
        ph = [(s, e) for s, e, _ in phases if _inside((s, e), w)]
        jb = [(j["start_ms"], j["end_ms"]) for j in jobs if j["op"] == i]
        children = [_clip(x, w) for x in bs + ph + jb]
        self_ms[op_layer(workload, o["name"])] += o["dur_ms"] - _union(children)
        for b in bs:
            inner = [_clip(x, b) for x in ph + jb if _inside(x, b)]
            self_ms["streaming"] += (b[1] - b[0]) - _union(inner)
        self_ms["plans"] += _union(ph + jb) - _union(jb)  # phase time no job covers
        self_ms["spark"] += _union([_clip(x, w) for x in jb])
        self_ms["jvm"] += o["counters"].get("gc_s", 0.0) * 1e3
    for layer in LAYERS:
        put(f"self.{layer}_s", self_ms[layer] / 1e3, "s")
    return out
