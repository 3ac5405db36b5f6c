"""Statistics of the benchmark: turns the raw samples a run wrote into the
end-to-end and per-layer metrics named in BENCHMARK.json.

Rules (README.md):
  * a failed or wrong operation is +inf in every latency percentile and adds
    no answered queries to a rate;
  * a tail is the highest percentile with at least ten samples beyond it;
  * +inf is written as INF_MS, since JSON has no infinity.
"""
import math
import statistics

INF = math.inf
INF_MS = 1e9
K = 10

RECALL_FLOORS = {"IVF_FLAT": 0.85, "VAMANA": 0.85, "IVF_PQ": 0.75}
INDEX_TYPES = ["FLAT", "IVF_FLAT", "IVF_PQ", "VAMANA"]
TEXT_STAGES = ["quality", "exact_dedup", "minhash_dedup", "dup_score", "bm25_fit", "bm25_topk"]
KERNELS = ["sos_d64_simd_ns", "sos_d64_scalar_ns", "sos_d768_simd_ns", "sos_d768_scalar_ns",
           "cosine_d768_simd_ns", "sos_u8_d128_ns", "sos_d64_bytes", "sos_d768_bytes",
           "cosine_d768_bytes", "sos_u8_d128_bytes"]


class Op:
    __slots__ = ("kind", "label", "ms", "ok", "results", "error", "recall")

    def __init__(self, row):
        self.kind, self.label, self.ms, self.ok, self.results, self.error, recall = row
        self.recall = math.nan if recall is None else recall

    @property
    def latency(self):
        return self.ms if self.ok else INF


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values):
    """(value, percentile, samples) at the highest percentile that has at
    least ten samples beyond it. Below 11 samples no percentile has ten
    beyond, and the maximum is reported at percentile 100."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    i = n - 11
    if i < 0:
        return s[-1], 100.0, n
    return s[i], 100.0 * (i + 1) / n, n


def finite(x):
    return INF_MS if math.isinf(x) else x


def storage_amplification(bytes_on_disk, live_vectors, dims):
    """Bytes under the index per byte of live float32 payload."""
    payload = live_vectors * dims * 4
    return bytes_on_disk / payload if payload else 0.0


def qps(batches):
    """Queries answered per second of time spent in the batches; a failed
    batch adds its time but no queries."""
    secs = sum(o.ms for o in batches) / 1000.0
    answered = sum(o.results for o in batches if o.ok)
    return answered / secs if secs else 0.0


def recall_of(batches):
    """Mean recall@10 over batches; a failed batch counts 0."""
    vals = [o.recall if o.ok else 0.0 for o in batches]
    return sum(vals) / len(vals) if vals else 0.0


def curation_passes(ops):
    """Seconds of each complete curation pass (from a 'quality' stage up to
    the next one), counting only passes whose stages all succeeded."""
    passes, cur = [], None
    for o in ops:
        if o.kind == "curation" and o.label == "quality":
            if cur is not None:
                passes.append(cur)
            cur = []
        if cur is not None and (o.kind == "curation" or o.label == "object"):
            cur.append(o)
    if cur:
        passes.append(cur)
    return [sum(o.ms for o in p) / 1000.0 for p in passes
            if len(p) >= len(TEXT_STAGES) and all(o.ok for o in p)]


def end_to_end(raw):
    ops = [Op(r) for r in raw["untraced"]["ops"]]
    knn = [o for o in ops if o.kind == "knn_batch"]
    return {
        "setup_s": (median(raw["setup_s"]), "s"),
        "knn_qps": (qps(knn), "1/s"),
        "knn_batch_p50_ms": (finite(median([o.latency for o in knn])), "ms"),
        "recall_at_10": (recall_of(knn), "ratio"),
        "retained_heap_mb": (raw["gauges"]["retained_heap_mb"], "MB"),
        "op_success_ratio": (sum(o.ok for o in ops) / len(ops) if ops else 0.0, "ratio"),
    }


def workload_detail(raw, ops):
    """Per-workload numbers of the untraced loop that are not end-to-end on
    every workload (a zero means the workload has no such operation)."""
    def lat(kind, label=None):
        return [o.latency for o in ops if o.kind == kind and (label is None or o.label == label)]

    knn = [o for o in ops if o.kind == "knn_batch"]
    t_val, t_pct, t_n = tail([o.latency for o in knn])
    local = sorted(lat("local_query"))
    g = raw["gauges"]
    passes = curation_passes(ops)
    out = {
        "knn_batch_tail_ms": (finite(t_val), "ms"),
        "knn_batch_tail_pct": (t_pct, "%"),
        "knn_batch_samples": (t_n, "count"),
        "sql_topk_p50_ms": (finite(median(lat("sql_topk"))), "ms"),
        "local_query_p50_us": (finite(median(local)) * 1000 if local else 0.0, "us"),
        "local_query_p99_us": (finite(local[max(0, math.ceil(0.99 * len(local)) - 1)]) * 1000
                               if local else 0.0, "us"),
        "storage_amplification": (storage_amplification(
            g.get("storage_bytes", 0), g.get("live_vectors", 0), g.get("dims", 0)), "ratio"),
        "curation_docs_per_s": (g.get("docs", 0) / median(passes) if passes else 0.0, "1/s"),
        "op_failure_ratio": (sum(not o.ok for o in ops) / len(ops) if ops else 0.0, "ratio"),
    }
    for ty in INDEX_TYPES:
        out[f"index.{ty.lower()}_batch_ms"] = (finite(median(lat("knn_batch", ty))), "ms")
        out[f"recall.{ty.lower()}"] = (recall_of([o for o in knn if o.label == ty]), "ratio")
    return out


def floors(ops):
    """BASELINE recall floors as pass/fail, over the batches that returned."""
    res = {}
    for ty, floor in RECALL_FLOORS.items():
        got = [o.recall for o in ops if o.kind == "knn_batch" and o.label == ty and o.ok]
        if got:
            res[ty] = {"recall": sum(got) / len(got), "floor": floor,
                       "pass": sum(got) / len(got) >= floor}
    return res


def per_layer(raw):
    tr = raw["traced"]
    plain = [Op(r) for r in raw["untraced"]["ops"]]
    ops = [Op(r) for r in tr["phase"]["ops"]]
    spans = [dict(zip(("id", "parent", "req", "name", "start", "end", "attrs"), s))
             for s in tr["spans"]]
    stages = [dict(zip(("req", "span", "tasks", "failed", "run_ms", "cpu_ms", "shuffle",
                        "spill", "read", "wait_ms"), s)) for s in tr["stages"]]
    jobs = tr["jobs"]
    g = raw["gauges"]

    def dur_ms(name):
        return [(s["end"] - s["start"]) / 1e6 for s in spans if s["name"] == name]

    def attr(name, key):
        return [s["attrs"][key] for s in spans if s["name"] == name and key in s["attrs"]]

    out = workload_detail(raw, plain)
    for ty in INDEX_TYPES:
        out[f"index.ingest_{ty.lower()}_s"] = (median(dur_ms(f"index.ingest_{ty.lower()}")) / 1000, "s")
    constructs = dur_ms("index.query_construct")
    out.update({
        "index.local_snapshot_ms": (median(dur_ms("index.local_snapshot")), "ms"),
        "index.open_ms": (median(dur_ms("index.open")), "ms"),
        "index.query_construct_ms": (median(constructs), "ms"),
        "index.construct_jobs": (sum(1 for _, sp in jobs if sp == "index.query_construct")
                                 / len(constructs) if constructs else 0.0, "count"),
        "index.storage_bytes": (g.get("storage_bytes", 0), "bytes"),
        "index.storage_files": (g.get("storage_files", 0), "count"),
        "plans.analysis_ms": (median(attr("plans", "analysis_ms")), "ms"),
        "plans.optimization_ms": (median(attr("plans", "optimization_ms")), "ms"),
        "plans.planning_ms": (median(attr("plans", "planning_ms")), "ms"),
    })
    rewrites = attr("plans.probe", "rewritten")
    out["plans.probe_rewrite_ratio"] = (sum(rewrites) / len(rewrites) if rewrites else 0.0, "ratio")

    batch_reqs = {i for i, o in enumerate(ops) if o.kind == "knn_batch"}
    nb = max(1, len(batch_reqs))
    bst = [s for s in stages if s["req"] in batch_reqs]
    traced_stages = [s for s in stages if s["req"] >= 0]
    returned = sum(ops[i].results for i in batch_reqs if ops[i].ok) * K
    out.update({
        "operators.jobs_per_batch": (sum(1 for r, _ in jobs if r in batch_reqs) / nb, "count"),
        "operators.stages_per_batch": (len(bst) / nb, "count"),
        "operators.tasks_per_batch": (sum(s["tasks"] for s in bst) / nb, "count"),
        "operators.scheduler_wait_ms_per_batch": (sum(s["wait_ms"] for s in bst) / nb, "ms"),
        "operators.task_run_ms_per_batch": (sum(s["run_ms"] for s in bst) / nb, "ms"),
        "operators.task_cpu_ms_per_batch": (sum(s["cpu_ms"] for s in bst) / nb, "ms"),
        "operators.shuffle_bytes_per_batch": (sum(s["shuffle"] for s in bst) / nb, "bytes"),
        "operators.spill_bytes": (sum(s["spill"] for s in traced_stages), "bytes"),
        "operators.rows_scanned_per_result": (sum(s["read"] for s in bst) / returned
                                              if returned else 0.0, "count"),
        "operators.failed_tasks": (sum(s["failed"] for s in traced_stages), "count"),
    })
    kernels = tr.get("kernels") or {}
    for name in KERNELS:
        v = kernels.get(name)
        out[f"functions.{name}"] = (0.0 if v is None else v, "bytes" if name.endswith("bytes") else "ns")
    for st in TEXT_STAGES:
        out[f"text.{st}_ms"] = (median(dur_ms(f"text.{st}")), "ms")
    out["text.dedup_pairs"] = (median(attr("text.dedup", "pairs")), "count")
    out["objects.search_ms"] = (median(dur_ms("objects.search")), "ms")
    out["objects.create_s"] = (median(dur_ms("objects.create")) / 1000, "s")
    out.update({
        "host.canary_start_ms": (g["canary_start_ms"], "ms"),
        "host.canary_end_ms": (g["canary_end_ms"], "ms"),
        "jvm.gc_ms": (g["gc_ms"], "ms"),
        "trace.overhead_pct": (tracing_overhead_pct(plain, ops), "%"),
    })
    return out


def tracing_overhead_pct(plain, traced):
    """Geometric mean, over request kinds present in both loops, of the
    traced/untraced median latency ratio, as a percentage above 1. Curation
    stages are left out: in the first (untraced) pass they still pay one-time
    code generation."""
    def med(ops):
        by = {}
        for o in ops:
            if o.ok and o.kind != "curation":
                by.setdefault((o.kind, o.label), []).append(o.ms)
        return {k: statistics.median(v) for k, v in by.items()}
    a, b = med(plain), med(traced)
    ratios = [b[k] / a[k] for k in a if k in b and a[k] > 0]
    if not ratios:
        return 0.0
    return (math.exp(sum(math.log(r) for r in ratios) / len(ratios)) - 1) * 100


def counts(raw, trace):
    ops = [Op(r) for r in raw["untraced"]["ops"]]
    if trace and raw.get("traced"):
        ops += [Op(r) for r in raw["traced"]["phase"]["ops"]]
    wrong = [o for o in ops if not o.ok and o.error.startswith("wrong output")]
    return ops, wrong
