"""Metrics from the harness's raw result file. Pure functions over plain
data; tests/test_perfbench.py covers them.

Spans and job times are in microseconds; spans nest workload iteration ->
public call (layer rf_app, build or sink) -> Spark job (by call site).
"""

import statistics
from collections import Counter, defaultdict

# The ops_mix op list, by family; the harness receives it in this order and
# starts its concurrent warmup from the end, the longest-running family.
FAMILIES = {
    "relational": ["agg_hash_groupby", "join_q3_topk", "join_multiway_star",
                   "win_topk_per_group"],
    "text": ["fn_json", "dedup_minhash_lsh", "dedup_near_jaccard"],
    "pairs": ["sim_cosine_topk", "dedup_near_embedding", "ml_knn_classify",
              "sim_sparse_tfidf_pairs"],
    "iterative": ["graph_hits_scores", "graph_pagerank", "graph_pseudo_diameter",
                  "ml_nb_sql_exact"],
}
OPS = [op for ops in FAMILIES.values() for op in ops]
# The fixed sf0.01 tables each op reads, from its builder in src/main. The
# rows of the tables an op reads, summed over the ops, are the input of one
# ops_mix pass: a fixed figure, whatever a change does to the scans.
OP_TABLES = {
    "agg_hash_groupby": ["lineitem"],
    "join_q3_topk": ["customer", "orders", "lineitem"],
    "join_multiway_star": ["customer", "orders", "lineitem", "nation", "region",
                           "supplier"],
    "win_topk_per_group": ["orders"],
    "fn_json": ["events"],
    "dedup_minhash_lsh": ["documents"],
    "dedup_near_jaccard": ["documents"],
    "sim_cosine_topk": ["embeddings"],
    "dedup_near_embedding": ["embeddings"],
    "ml_knn_classify": ["embeddings", "documents"],
    "sim_sparse_tfidf_pairs": ["documents"],
    "graph_hits_scores": ["orders", "lineitem"],
    "graph_pagerank": ["lineitem"],
    "graph_pseudo_diameter": ["lineitem"],
    "ml_nb_sql_exact": ["documents"],
}
TABLES = sorted({t for ts in OP_TABLES.values() for t in ts})
ACCURACY_FLOOR = 0.8
MB = 1048576.0

END_TO_END = ["setup_s", "iter_s", "rows_per_s", "accuracy", "ok_frac",
              "peak_heap_mb"]
RF_LAYER = ["rf.ingest_s", "rf.ingest_jobs", "rf.metadata_s", "rf.level_s",
            "rf.level_jobs", "rf.train_shuffle_mb", "rf.save_s", "rf.train_s",
            "rf.load_s", "rf.score_s", "rf.score_tasks", "rf.gc_s",
            "rf.spill_mb"]
OP_FIELDS = ["build_s", "build_jobs", "plan_s", "exec_s", "shuffle_mb"]
OPS_LAYER = ["ops.build_s", "ops.plan_s", "ops.exec_s", "ops.jobs", "ops.tasks",
             "ops.spill_mb", "ops.gc_s"]
SELF_LAYERS = ["harness", "rf_app", "build", "sink", "mllib_jobs", "spark_jobs"]
PER_LAYER = (RF_LAYER + [f"op.{op}.{f}" for op in OPS for f in OP_FIELDS]
             + OPS_LAYER + [f"family.{f}_s" for f in FAMILIES]
             + [f"self.{layer}_s" for layer in SELF_LAYERS]
             + ["trace.overhead_s"])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def outcome(raw, pinned):
    """(attempted, failures) over the timed operations plus the output
    checks: each ops_mix digest against its pinned value, and for the
    forest the accuracy floor and an identical prediction digest in the
    first and last timed iteration."""
    failures = list(raw["failures"])
    attempted = raw["attempted"]
    checks = raw["checks"]
    if raw["workload"] == "ops_mix":
        for op in OPS:
            attempted += 1
            got, want = checks["digests"].get(op), pinned.get(op)
            if got != want:
                failures.append(f"{op}: digest {got} != pinned {want}")
    else:
        first, last = checks["first"], checks["last"]
        attempted += 2
        if first != last:
            failures.append(f"forest output changed: {first} -> {last}")
        if last["accuracy"] < ACCURACY_FLOOR:
            failures.append(f"accuracy {last['accuracy']} < {ACCURACY_FLOOR}")
    return attempted, failures


def ops_input_rows(table_rows):
    """Input rows of one ops_mix pass: the rows of the tables each op
    reads, summed over the ops; table_rows maps table -> row count."""
    return sum(table_rows[t] for op in OPS for t in OP_TABLES[op])


def seconds(raw, traced):
    return [it["seconds"] for it in raw["iterations"] if it["traced"] == traced]


def end_to_end(raw, rows, attempted, failed):
    it = median(seconds(raw, False))
    return {
        "setup_s": raw["setup_s"],
        "iter_s": it,
        "rows_per_s": rows / it,
        "accuracy": raw["checks"]["accuracy"],
        "ok_frac": 1.0 - failed / attempted,
        "peak_heap_mb": raw["peak_heap_mb"],
    }


def family_seconds(raw):
    """Median over untraced passes of each family's summed op seconds."""
    out = {}
    for fam, ops in FAMILIES.items():
        sums = [sum(it["parts"].get(op, 0.0) for op in ops)
                for it in raw["iterations"] if not it["traced"]]
        out[fam] = round(median(sums), 4)
    return out


def _dur(x):
    return max(x["end"] - x["start"], 0) / 1e6 if x["end"] >= 0 else 0.0


def is_mllib(job):
    return "RandomForest.scala" in job["site"] or "DecisionTree" in job["site"]


def level_site(jobs):
    """The call site of the per-level split search: the MLlib call site
    with the most jobs in one train call (one job per tree level, where
    findSplits runs once)."""
    sites = Counter(j["site"] for j in jobs if is_mllib(j))
    return sites.most_common(1)[0][0] if sites else None


def _zeros(names):
    return {k: 0 if k.endswith(("_jobs", "_tasks", ".jobs", ".tasks")) else 0.0
            for k in names}


def _rf_values(calls, jobs_of, gc_s):
    v = _zeros(RF_LAYER)
    if not any(s["layer"] == "rf_app" for s in calls.values()):
        return v
    if "train" in calls:
        t = calls["train"]
        tj = sorted(jobs_of[t["id"]], key=lambda j: j["start"])
        ml = [j for j in tj if is_mllib(j)]
        first = ml[0]["start"] if ml else t["end"]
        v["rf.ingest_s"] = max(first - t["start"], 0) / 1e6
        v["rf.ingest_jobs"] = sum(1 for j in tj if j["start"] < first)
        site = level_site(ml)
        levels = [j for j in ml if j["site"] == site]
        v["rf.level_s"] = sum(_dur(j) for j in levels)
        v["rf.level_jobs"] = len(levels)
        v["rf.metadata_s"] = sum(_dur(j) for j in ml if j["site"] != site)
        v["rf.train_shuffle_mb"] = sum(j["shuffle_bytes"] for j in tj) / MB
    if "saveModel" in calls:
        v["rf.save_s"] = _dur(calls["saveModel"])
    v["rf.train_s"] = v["rf.save_s"] + (_dur(calls["train"]) if "train" in calls else 0.0)
    for name, s in calls.items():
        if name.startswith("loadAndScore "):
            v["rf.load_s"] += _dur(s)
        elif name.startswith("write ") and s["layer"] == "sink" and name[6:] not in OPS:
            v["rf.score_s"] += _dur(s)
            v["rf.score_tasks"] += sum(j["tasks"] for j in jobs_of[s["id"]])
    v["rf.gc_s"] = gc_s
    v["rf.spill_mb"] = sum(j["spill_bytes"] for s in calls.values()
                           for j in jobs_of[s["id"]]) / MB
    return v


def _ops_values(calls, jobs_of, plans, gc_s):
    v = {}
    for op in OPS:
        b, w = calls.get(f"build {op}"), calls.get(f"write {op}")
        bj = jobs_of[b["id"]] if b else []
        wj = jobs_of[w["id"]] if w else []
        plan = plans.get(str(w["id"]), 0) / 1000.0 if w else 0.0
        v[f"op.{op}.build_s"] = _dur(b) if b else 0.0
        v[f"op.{op}.build_jobs"] = len(bj)
        v[f"op.{op}.plan_s"] = plan
        v[f"op.{op}.exec_s"] = max(_dur(w) - plan, 0.0) if w else 0.0
        v[f"op.{op}.shuffle_mb"] = sum(j["shuffle_bytes"] for j in bj + wj) / MB
    op_spans = [calls[f"{k} {op}"] for op in OPS for k in ("build", "write")
                if f"{k} {op}" in calls]
    op_jobs = [j for s in op_spans for j in jobs_of[s["id"]]]
    v["ops.build_s"] = sum(v[f"op.{op}.build_s"] for op in OPS)
    v["ops.plan_s"] = sum(v[f"op.{op}.plan_s"] for op in OPS)
    v["ops.exec_s"] = sum(v[f"op.{op}.exec_s"] for op in OPS)
    v["ops.jobs"] = len(op_jobs)
    v["ops.tasks"] = sum(j["tasks"] for j in op_jobs)
    v["ops.spill_mb"] = sum(j["spill_bytes"] for j in op_jobs) / MB
    v["ops.gc_s"] = gc_s if op_spans else 0.0
    for fam, ops in FAMILIES.items():
        v[f"family.{fam}_s"] = sum(v[f"op.{op}.build_s"] + v[f"op.{op}.plan_s"]
                                   + v[f"op.{op}.exec_s"] for op in ops)
    return v


def _index(raw):
    kids = defaultdict(list)
    for s in raw["spans"]:
        kids[s["parent"]].append(s)
    jobs_of = defaultdict(list)
    for j in raw["jobs"]:
        jobs_of[j["span"]].append(j)
    return kids, jobs_of


def _covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(raw):
    """Seconds per traced iteration each layer spends outside its child
    spans; Spark jobs count as children of the call that submitted them."""
    kids, jobs_of = _index(raw)
    iters = [s for s in raw["spans"] if s["layer"] == "harness"]
    out = dict.fromkeys(SELF_LAYERS, 0.0)
    for s in raw["spans"]:
        if s["end"] < 0:
            continue
        children = [(c["start"], c["end"]) for c in kids[s["id"]] if c["end"] >= 0]
        children += [(j["start"], j["end"]) for j in jobs_of[s["id"]] if j["end"] >= 0]
        clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in children
                   if b > s["start"] and a < s["end"]]
        out[s["layer"]] += (s["end"] - s["start"] - _covered(clipped)) / 1e6
    for j in raw["jobs"]:
        out["mllib_jobs" if is_mllib(j) else "spark_jobs"] += _dur(j)
    return {k: round(v / max(len(iters), 1), 4) for k, v in out.items()}


def per_layer(raw):
    """Per-layer metrics: the median over the traced iterations of each
    iteration's value, plus self time per layer and tracing overhead."""
    kids, jobs_of = _index(raw)
    iters = [s for s in raw["spans"] if s["layer"] == "harness"]
    gcs = [it["gc_s"] for it in raw["iterations"] if it["traced"]]
    rows = []
    for it, gc_s in zip(iters, gcs):
        calls = {s["name"]: s for s in kids[it["id"]]}
        row = _rf_values(calls, jobs_of, gc_s)
        row.update(_ops_values(calls, jobs_of, raw["plans"], gc_s))
        rows.append(row)
    v = {k: median([r[k] for r in rows]) for k in PER_LAYER if rows and k in rows[0]}
    for layer, secs in self_time(raw).items():
        v[f"self.{layer}_s"] = secs
    # the first timed iteration of a traced run still warms the JVM, so
    # the traced iteration is compared with the untraced ones after it
    untraced = seconds(raw, False)
    v["trace.overhead_s"] = median(seconds(raw, True)) - median(untraced[1:] or untraced)
    return dict(_zeros(PER_LAYER), **v)
