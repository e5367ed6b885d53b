"""Metric names, output checks and the arithmetic that turns one workload's
raw JVM result into the benchmark's end-to-end and per-layer metrics."""
import json
import os
import statistics
import subprocess
import sys

import gen

WORKLOADS = ("er_landing", "curation_chain", "query_sweep")
SETTINGS = json.load(open(os.path.join(os.path.dirname(os.path.abspath(
    __file__)), "settings.json")))

# name -> unit, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "records_per_s": "1/s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "match_precision": "ratio",
    "match_recall": "ratio",
    "pair_recall": "ratio",
}

SPAN_SUFFIXES = {
    "s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "task_s": "s", "busy_ratio": "ratio", "gap_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "gc_s": "s", "codegen_compiles": "count", "codegen_ms": "ms",
}
FULL_SPANS = ("sources.abr_xml", "sources.crawl_parse", "pipeline.clean",
              "pipeline.match", "dedup.minhash", "components",
              "sampling.split", "sweep.cold")
WARM_SUFFIXES = ("jobs", "gap_s", "codegen_compiles")
COUNTS = {
    "sources.abr_xml.rows": "count",
    "sources.crawl_parse.rows": "count",
    "sinks.bytes_written": "bytes",
    "pipeline.clean.dedup_ratio": "ratio",
    "cascade.rule.matches": "count",
    "cascade.fuzzy.matches": "count",
    "cascade.llm.matches": "count",
    "cascade.fuzzy.candidate_pairs": "count",
    "cascade.fuzzy.accept_ratio": "ratio",
    "llm.calls": "count",
    "llm.candidates": "count",
    "llm.pick_ratio": "ratio",
    "dedup.minhash.pairs": "count",
    "components.clusters": "count",
    "sweep.cold.build_s": "s",
    "sweep.cold.action_s": "s",
    "pins.storage_mb": "MB",
    "peak_rss_mb": "MB",
    "warm_s": "s",
    "trace.overhead_s": "s",
    "fail_ratio": "ratio",
}


def per_layer_names():
    out = {}
    for span in FULL_SPANS:
        for suf, unit in SPAN_SUFFIXES.items():
            out[f"{span}.{suf}"] = unit
    for suf in WARM_SUFFIXES:
        out[f"sweep.warm.{suf}"] = SPAN_SUFFIXES[suf]
    out.update(COUNTS)
    return out


PER_LAYER = per_layer_names()


# ---------------------------------------------------------------- helpers

def tail(values, beyond=10):
    """(value, percentile) of the highest percentile that still has at
    least `beyond` samples above it. With too few samples for that
    percentile to reach the median, the maximum (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    k = n - beyond - 1          # exactly `beyond` samples above index k
    if k < (n - 1) / 2:
        return xs[-1], 100.0
    return xs[k], 100.0 * (k + 1) / n


def duck():
    import duckdb
    return duckdb.connect()


class Checks:
    """Output-check tally: every check item counts as attempted; every
    mismatch (and every failed operation) counts as failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes = []
        self.values = {}

    def expect(self, ok, msg):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(msg)

    def fail(self, msg):
        self.expect(False, msg)

    def ops(self, attempted, failed, what):
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.notes.append(f"{failed} of {attempted} {what} failed")


# ---------------------------------------------------------------- checks

def check(workload, result, input_dir, sf_dir, root):
    c = Checks()
    {"er_landing": _check_er, "curation_chain": _check_cc,
     "query_sweep": _check_qs}[workload](c, result, input_dir, sf_dir, root)
    return c


def _check_er(c, result, input_dir, sf_dir, root):
    passes = result["passes"]
    c.ops(4 * len(passes), 0, "layer calls")
    for p in passes:
        c.expect(p["n_rule"] + p["n_fuzzy"] + p["n_llm"] == p["n_matches"],
                 f"pass {p['pass']}: funnel stages do not sum to n_matches")
        c.expect(p["n_matches"] == passes[0]["n_matches"],
                 f"pass {p['pass']}: n_matches differs from the cold pass")
    last = passes[-1]
    dwh = result["counts"]["dwh"]
    con = duck()
    rows = con.execute(
        "SELECT crawl_domain, abr_abn, match_method FROM read_parquet("
        f"'{dwh}/*/*.parquet', hive_partitioning = true)").fetchall()
    c.expect(len(rows) == last["n_matches"],
             f"dwh rows {len(rows)} != observed n_matches {last['n_matches']}")
    by_method = {}
    for _, _, m in rows:
        by_method[m] = by_method.get(m, 0) + 1
    for method, key in (("rule_based_abn", "n_rule"), ("fuzzy", "n_fuzzy"),
                        ("LLM", "n_llm")):
        c.expect(by_method.get(method, 0) == last[key],
                 f"dwh {method} rows {by_method.get(method, 0)} != {key} "
                 f"{last[key]}")
    gold = {tuple(p) for p in json.load(
        open(os.path.join(input_dir, "gold.json")))["pairs"]}
    pred = {(d, a) for d, a, _ in rows}
    hit = len(pred & gold)
    precision = hit / len(pred) if pred else 0.0
    recall = hit / len(gold) if gold else 0.0
    # sanity floors well below the generator's baseline: a matcher that
    # falls through them is broken, not merely slower
    c.expect(precision >= 0.9, f"match precision {precision:.4f} < 0.9")
    c.expect(recall >= 0.6, f"match recall {recall:.4f} < 0.6")
    c.values.update(match_precision=precision, match_recall=recall,
                    pair_recall=recall)


def _check_cc(c, result, input_dir, sf_dir, root):
    import pyarrow.parquet as pq
    passes = result["passes"]
    c.ops(3 * len(passes), 0, "chain stages")
    for p in passes:
        c.expect((p["pairs"], p["clusters"]) ==
                 (passes[0]["pairs"], passes[0]["clusters"]),
                 f"pass {p['pass']}: pair/cluster counts differ from pass 0")
    meta = json.load(open(os.path.join(input_dir, "meta.json")))
    docs = pq.read_table(os.path.join(input_dir, "docs.parquet")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    out = result["counts"]["out"]
    pairs = pq.read_table(os.path.join(out, "pairs")).to_pydict()
    assign = pq.read_table(os.path.join(out, "assignments")).to_pydict()
    split = pq.read_table(os.path.join(out, "split")).to_pydict()
    keep = dict(zip(assign["id"], assign["keep_id"]))
    thr = meta["threshold"]
    cache = {}

    def sh(i):
        if i not in cache:
            cache[i] = gen.shingles(text[i], meta["ngram"])
        return cache[i]

    emitted = set()
    below = not_joined = 0
    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        emitted.add((min(a, b), max(a, b)))
        if gen.jaccard(sh(a), sh(b)) < thr:
            below += 1
        if keep.get(a) is None or keep.get(a) != keep.get(b):
            not_joined += 1
    n = len(pairs["id_a"])
    c.ops(n, below, "emitted pairs below the Jaccard threshold")
    c.ops(n, not_joined, "emitted pairs without a shared keep_id")
    c.expect(len(keep) == meta["docs"], "assignments do not cover the corpus")
    c.expect(len(split["doc_id"]) == meta["docs"], "split does not cover the corpus")
    cluster_splits = {}
    for cid, s in zip(split["cluster_id"], split["split"]):
        cluster_splits.setdefault(cid, set()).add(s)
    straddle = sum(1 for v in cluster_splits.values() if len(v) > 1)
    c.ops(len(cluster_splits), straddle, "clusters straddling splits")
    planted = [(a, b) for a, b, j in json.load(
        open(os.path.join(input_dir, "gold.json")))["planted"] if j >= thr]
    found = sum(1 for a, b in planted if (min(a, b), max(a, b)) in emitted)
    recall = found / len(planted) if planted else 0.0
    c.expect(recall >= 0.5, f"pair recall {recall:.4f} < 0.5")
    c.values.update(match_precision=(n - below) / n if n else 0.0,
                    match_recall=recall, pair_recall=recall)


def _check_qs(c, result, input_dir, sf_dir, root):
    queries = []
    for p in result["passes"]:
        bad = [q["query"] for q in p["queries"] if not q["ok"]]
        c.ops(len(p["queries"]), len(bad), f"queries (pass {p['pass']})")
        queries = [q["query"] for q in p["queries"]]
    out = result["counts"]["out"]
    for q in result["counts"]["output_failed"]:
        c.fail(f"{q}: output write failed")
    tool = os.path.join(root, "tools", "check_oracle.py")
    proc = subprocess.run([sys.executable, tool, sf_dir, out, ",".join(queries)],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL, text=True, timeout=170)
    verdict = {}
    for line in proc.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL", "ERROR"):
            verdict[parts[1].rstrip(":")] = parts[0]
    for q in queries:
        c.expect(verdict.get(q) == "PASS",
                 f"{q}: oracle {verdict.get(q, 'missing')}")
    share = sum(1 for q in queries if verdict.get(q) == "PASS") / len(queries)
    c.values.update(match_precision=share, match_recall=share,
                    pair_recall=share)


# ---------------------------------------------------------------- metrics

def table_rows(sf_dir):
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(os.path.join(sf_dir, f)).metadata.num_rows
               for f in sorted(os.listdir(sf_dir)) if f.endswith(".parquet"))


def net(p, seconds=None):
    """Seconds of pass `p` (or `seconds` measured inside it) without the
    share of CPU time the hypervisor stole during the pass: on a shared
    host a burst of steal slows every timing it covers by about that share,
    for minutes at a time."""
    return (p["s"] if seconds is None else seconds) * (1.0 - p["steal_share"])


def timed(result, traced=False):
    """The timed passes of one tracing state (pass 0 is the warm-up)."""
    return [p for p in result["passes"]
            if not p["warmup"] and p["traced"] == traced]


def wall_s(workload, result, traced=False, kind="cold"):
    """query_sweep: the median pass of `kind` (there is one cold pass); the
    others: the fastest timed pass."""
    passes = timed(result, traced)
    if workload == "query_sweep":
        return statistics.median(net(p) for p in passes if p["kind"] == kind)
    return min(net(p) for p in passes)


def warm_s(workload, result):
    """query_sweep: the best untraced warm pass, as graft.Bench times warm
    runs; the others: the median untraced timed pass."""
    passes = timed(result)
    if workload == "query_sweep":
        return min(net(p) for p in passes if p["kind"] == "warm")
    return statistics.median(net(p) for p in passes)


def end_to_end(workload, result, gen_s, checks, input_dir, sf_dir=None):
    """{name: (value, unit)} for every END_TO_END metric, from the
    untraced passes."""
    passes = timed(result)
    setup = (gen_s + result["jvm_start_s"] + result["session_s"]
             + sum(p["s"] for p in result["passes"] if p["warmup"]))
    wall = wall_s(workload, result)
    if workload == "query_sweep":
        per_op = [net(p, q["build_s"] + q["action_s"]) for p in passes
                  if p["kind"] == "cold" for q in p["queries"] if q["ok"]]
        records = table_rows(sf_dir)
    else:
        per_op = [net(p) for p in passes]
        records = json.load(open(os.path.join(input_dir, "meta.json")))["records"]
    checks.values["timed_passes_raw_s"] = [p["s"] for p in passes]
    checks.values["timed_passes_steal_share"] = [p["steal_share"] for p in passes]
    tail_v, tail_pct = tail(per_op)
    checks.values["query_tail_pct"] = tail_pct
    v = {
        "setup_s": setup,
        "wall_s": wall,
        "records_per_s": records / wall,
        "query_p50_s": statistics.median(per_op),
        "query_tail_s": tail_v,
        "match_precision": checks.values["match_precision"],
        "match_recall": checks.values["match_recall"],
        "pair_recall": checks.values["pair_recall"],
    }
    return {k: (v[k], END_TO_END[k]) for k in END_TO_END}


def _descendants(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for s in kids.get(todo.pop(), []):
            out.append(s)
            todo.append(s["id"])
    return out


def per_layer(workload, result, checks):
    """({name: (value, unit)} for every PER_LAYER metric, summary).

    Span metrics are medians over the traced passes; for query_sweep,
    sweep.cold over its traced cold passes and sweep.warm over its traced
    warm passes. Layers a workload does not run read 0."""
    spans = result["spans"]
    nproc = result["cpus"]
    roots = [s for s in spans if s["name"] == "pass" and s["parent"] == -1]
    v = {k: 0.0 for k in PER_LAYER}

    def span_values(s):
        out = {suf: s[suf] for suf in SPAN_SUFFIXES if suf != "busy_ratio"}
        out["busy_ratio"] = s["task_s"] / (s["s"] * nproc) if s["s"] > 0 else 0.0
        return out

    # query_sweep reaches Dedup, Components and Sampling through the
    # queries that call them; their cold spans stand for those layers
    layer_of = SETTINGS["query_sweep"]["layer_queries"]
    per_name, coverage, cold = {}, [], []
    for root in roots:
        below = _descendants(spans, root["id"])
        for s in below:
            if s["name"] in FULL_SPANS or s["name"] == "sweep.warm":
                per_name.setdefault(s["name"], []).append(span_values(s))
            if s["name"] == "sweep.cold.query" and s["label"] in layer_of:
                per_name.setdefault(layer_of[s["label"]], []).append(
                    span_values(s))
        top = [s for s in below if s["parent"] == root["id"]]
        if all(s["name"] != "sweep.warm" for s in top):
            coverage.append(sum(s["s"] for s in top) / root["s"])
        if any(s["name"] == "sweep.cold" for s in top):
            cold.append(below)
    for name, rows in per_name.items():
        suffixes = WARM_SUFFIXES if name == "sweep.warm" else SPAN_SUFFIXES
        for suf in suffixes:
            v[f"{name}.{suf}"] = statistics.median(r[suf] for r in rows)
    if cold:
        for part in ("build", "action"):
            v[f"sweep.cold.{part}_s"] = statistics.median(
                sum(s["s"] for s in below if s["name"] == f"sweep.cold.{part}")
                for below in cold)
    v["pins.storage_mb"] = max([s["storage_mb"] for s in spans] or [0.0])
    v["peak_rss_mb"] = result["peak_rss_mb"]
    # query_sweep traces its only cold pass, so it compares warm passes
    kind = "warm" if workload == "query_sweep" else "cold"
    v["trace.overhead_s"] = (wall_s(workload, result, True, kind)
                             - wall_s(workload, result, False, kind))
    v["warm_s"] = warm_s(workload, result)
    counts = result["counts"]
    for k in ("sources.abr_xml.rows", "sources.crawl_parse.rows",
              "sinks.bytes_written", "pipeline.clean.dedup_ratio",
              "cascade.fuzzy.candidate_pairs", "llm.calls", "llm.candidates",
              "dedup.minhash.pairs", "components.clusters"):
        if k in counts:
            v[k] = counts[k]
    if workload == "query_sweep":
        import pyarrow.parquet as pq
        for q, key in (("q49_minhash_oracle", "dedup.minhash.pairs"),
                       ("q56_dedup_clusters", "components.clusters")):
            d = os.path.join(counts["out"], q)
            v[key] = sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                         for f in os.listdir(d) if f.endswith(".parquet"))
    if workload == "er_landing":
        p0 = result["passes"][0]
        v["cascade.rule.matches"] = p0["n_rule"]
        v["cascade.fuzzy.matches"] = p0["n_fuzzy"]
        v["cascade.llm.matches"] = p0["n_llm"]
        pairs = counts["cascade.fuzzy.candidate_pairs"]
        v["cascade.fuzzy.accept_ratio"] = p0["n_fuzzy"] / pairs if pairs else 0.0
        calls = counts["llm.calls"]
        v["llm.pick_ratio"] = counts["llm.picks"] / calls if calls else 0.0
    v["fail_ratio"] = checks.failed / checks.attempted if checks.attempted else 0.0

    # self time of each top-level span of the first traced pass
    first = roots[0]
    below = _descendants(spans, first["id"])
    summary = {"run_id": first["run_id"], "pass_s": first["s"],
               "span_coverage": statistics.median(coverage), "top_level": {}}
    for s in below:
        if s["parent"] != first["id"]:
            continue
        kids = [k for k in below if k["parent"] == s["id"]]
        row = summary["top_level"].setdefault(s["name"], {"s": 0.0, "self_s": 0.0})
        row["s"] += s["s"]
        row["self_s"] += s["s"] - sum(k["s"] for k in kids)
    return {k: (v[k], PER_LAYER[k]) for k in PER_LAYER}, summary
