"""Output checks and metrics for one benchmark run.

`check(record, questions, data_dir)` returns a list of problems (empty when
every output is right); `end_to_end` and `per_layer` turn the run record the
JVM wrote into the metrics `BENCHMARK.json` names.
"""
import math
import os
import re
import statistics

MAX_NODES = 20
# qa_online scores the first measured questions, order_parts and
# customer_orders, which every run times whatever its speed
SCORED = 2
SETUP_SPANS = ["TpchGraph.load", "PropertyGraph.adjPairs"]
QA_SPANS = ["GraphRaft.matchEntities", "GraphRaft.enumerateCandidates",
            "GraphRaft.retrieveData"]
TRAIN_SPANS = ["TrainingData.oneHopCandidates", "TrainingData.twoHopCandidates",
               "TrainingData.twoPathCandidates", "TrainingData.bestLabelGate",
               "TrainingData.batchRetrieve1Hop", "Metrics.macroAvg"]
GRAPH_ENTRIES = ["graph_bfs_dist", "graph_scc_bounded", "graph_fwbw"]
COUNTERS = ["ms", "jobs", "tasks", "task_ms", "idle_ms", "shuffle_mb", "catalyst_ms"]
RATIOS = ["GraphRaft.matchEntities.fallback_ratio", "GraphRaft.retrieveData.query_yield",
          "TrainingData.useful_ratio", "TrainingData.bestLabelGate.pass_ratio"]
RUN_LEVEL = ["retained_mb", "failed_ratio", "request_tail_pct", "requests_n"]
MB = 1024.0 * 1024.0
UNITS = {"setup_s": "s", "load_cached_mb": "MB", "request_p50_ms": "ms",
         "request_tail_ms": "ms", "questions_per_s": "1/s", "answer_recall": "ratio",
         "answer_mrr": "ratio", "ms": "ms", "jobs": "count", "tasks": "count",
         "task_ms": "ms", "idle_ms": "ms", "shuffle_mb": "MB", "catalyst_ms": "ms",
         "retained_mb": "MB", "failed_ratio": "ratio", "request_tail_pct": "percentile",
         "requests_n": "count"}


def unit_of(name):
    """The unit of an end-to-end or per-layer metric."""
    return UNITS.get(name, UNITS.get(name.rsplit(".", 1)[-1], "ratio"))


def per_layer_names():
    """Every per-layer metric, in a fixed order. The graph entries leave out
    `catalyst_ms` to stay within 128 names."""
    names = [f"{s}.{c}" for s in SETUP_SPANS + QA_SPANS + TRAIN_SPANS for c in COUNTERS]
    names += [f"Queries.{e}.{c}" for e in GRAPH_ENTRIES for c in COUNTERS[:-1]]
    return names + RATIOS + RUN_LEVEL


# ---- checks ---------------------------------------------------------------

def _check_retrieved(where, rows, problems):
    ranks = [r["rank"] for r in rows]
    ids = [r["nodeId"] for r in rows]
    if len(rows) > MAX_NODES:
        problems.append(f"{where}: {len(rows)} rows over the budget of {MAX_NODES}")
    if len(set(ids)) != len(ids):
        problems.append(f"{where}: duplicate nodeId in {ids}")
    if any(b <= a for a, b in zip(ranks, ranks[1:])):
        problems.append(f"{where}: ranks not increasing: {ranks}")


def _failed(r):
    """A call that threw: its output cannot be checked, so the run fails."""
    return f"{r.get('name', 'question ' + str(r.get('id')))} failed: {r['error'][:300]}"


def check_qa(record, questions):
    problems = []
    by_id = {q["id"]: q for q in questions}
    for r in record["warmup"] + record["requests"]:
        if not r["ok"]:
            problems.append(_failed(r))
            continue
        q = by_id[r["id"]]
        where = f"question {q['id']} ({q['template']})"
        mentions = [m["mention"] for m in q["mentions"]]
        want = {q["fallback_name"].get(m, m) for m in mentions}
        if set(r["resolved"]) != want:
            problems.append(f"{where}: mentions resolved to {r['resolved']}, want {sorted(want)}")
        if r["fallbacks"] != len(q["fallback"]):
            problems.append(f"{where}: {r['fallbacks']} KNN fallbacks, want {len(q['fallback'])}")
        _check_retrieved(where, r["retrieved"], problems)
        if len(r["answers"]) != len(r["retrieved"]):
            problems.append(f"{where}: {len(r['answers'])} answers for {len(r['retrieved'])} rows")
    return problems


def check_trainset(r, questions):
    problems = []
    n = len(questions)
    gated = {row[0]: row for row in r["gated"]}
    by_q = {}
    for qid, node, rank in r["retrieved"]:
        by_q.setdefault(qid, []).append({"nodeId": node, "rank": rank})
    for qid, rows in by_q.items():
        _check_retrieved(f"trainset question {qid}", sorted(rows, key=lambda x: x["rank"]), problems)
    for q in questions:
        if q["template"] != "order_parts":
            continue
        g = gated.get(q["id"])
        if g is None or g[1] != len(q["gold"]):
            problems.append(f"trainset question {q['id']}: gate row {g}, want hits={len(q['gold'])}")
        got = len(by_q.get(q["id"], []))
        if got != min(len(q["gold"]), MAX_NODES):
            problems.append(f"trainset question {q['id']}: {got} retrieved rows, "
                            f"want {min(len(q['gold']), MAX_NODES)}")
    recall, mrr = quality([[x["nodeId"] for x in sorted(by_q.get(q["id"], []),
                                                          key=lambda x: x["rank"])]
                           for q in questions], [q["gold"] for q in questions])
    macro = r["macro"]
    if macro.get("n_questions") != n:
        problems.append(f"macroAvg: n_questions {macro.get('n_questions')}, want {n}")
    for key, mine in (("avg_recall", recall), ("avg_mrr", mrr)):
        if macro.get(key) is None or abs(macro[key] - mine) > 2e-6:
            problems.append(f"macroAvg: {key} {macro.get(key)}, recomputed {mine:.6f}")
    return problems


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    return tuple((0, "") if x is None else (1, repr(x)) for x in row)


def _cells_equal(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and (a == b or abs(a - b) < 1e-9 * max(1.0, abs(a), abs(b))))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def digest_problems(name, columns, rows, oracle_columns, oracle_rows):
    """Compares an entry's rows with its oracle's, the way the catalog's own
    oracle check does: columns matched by name, rows as sorted multisets."""
    if sorted(columns) != sorted(oracle_columns):
        return [f"{name}: columns {sorted(columns)} vs oracle {sorted(oracle_columns)}"]
    order = [columns.index(c) for c in sorted(columns)]
    oorder = [oracle_columns.index(c) for c in sorted(columns)]
    mine = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_sort_key)
    theirs = sorted((tuple(_norm(r[i]) for i in oorder) for r in oracle_rows), key=_sort_key)
    if len(mine) != len(theirs):
        return [f"{name}: {len(mine)} rows, oracle {len(theirs)}"]
    for a, b in zip(mine, theirs):
        if not _cells_equal(a, b):
            return [f"{name}: row {a} differs from oracle row {b}"]
    return []


def check_graph(r, data_dir):
    import duckdb
    if not r.get("oracle_sql"):
        return [f"{r['name']}: no oracle SQL"]
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    res = con.execute(r["oracle_sql"])
    cols = [d[0] for d in res.description]
    return digest_problems(r["name"], r["columns"], r["rows"], cols, res.fetchall())


def check(record, questions, data_dir):
    """Every problem with the run's outputs. A call that threw is one."""
    if record["workload"] == "qa_online":
        return check_qa(record, questions)
    train = record["trainset"]
    problems = check_trainset(train, questions) if train["ok"] else [_failed(train)]
    for r in record["requests"]:
        problems += check_graph(r, data_dir) if r["ok"] else [_failed(r)]
    return problems


# ---- metrics --------------------------------------------------------------

def operations(record):
    """Every call the run attempted after its warm-up: the questions, or the
    training-set batch and each graph entry."""
    if record["workload"] == "qa_online":
        return record["requests"]
    return [record["trainset"]] + record["requests"]


def quality(preds, golds):
    """Macro recall and MRR of ranked predictions against gold sets."""
    recalls, rrs = [], []
    for p, g in zip(preds, golds):
        gs = set(g)
        recalls.append(len(gs.intersection(p)) / len(gs) if gs else 0.0)
        rrs.append(next((1.0 / (i + 1) for i, x in enumerate(p) if x in gs), 0.0))
    n = max(1, len(recalls))
    return sum(recalls) / n, sum(rrs) / n


def tail(samples):
    """The highest whole percentile with at least 10 samples above it, and
    that percentile; with fewer than 20 samples, the maximum (100)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100
    pct = math.floor(100 * (n - 10) / n)
    return xs[max(0, math.ceil(pct / 100 * n) - 1)], pct


def end_to_end(record, questions):
    """The end-to-end metrics. They are only valid for a run without a
    failed call; a failed call already fails the run's checks, and the
    figures it shrinks read 0 rather than a median over fewer samples."""
    reqs = record["requests"]
    ms = [r["ms"] for r in reqs] if all(r["ok"] for r in reqs) else []
    out = {
        "setup_s": (record["session_ms"] + record["load_ms"]) / 1000.0,
        "load_cached_mb": record["load_cached_bytes"] / MB,
        "request_p50_ms": statistics.median(ms) if ms else 0.0,
        "request_tail_ms": tail(ms)[0] if ms else 0.0,
    }
    by_id = {q["id"]: q for q in questions}
    if record["workload"] == "qa_online":
        out["questions_per_s"] = 1000.0 * len(ms) / sum(ms) if ms else 0.0
        # The fuzzy_part warm-up is checked but not scored: its reciprocal
        # rank jumps between 0 and 1 from seed to seed. Neither is the
        # nation hub, whose recall is 20 / the nation's customer count.
        scored = reqs[:SCORED]
        if not all(r["ok"] for r in scored):
            scored = []
        preds = [[x["nodeId"] for x in r["retrieved"]] for r in scored]
        golds = [by_id[r["id"]]["gold"] for r in scored]
    else:
        train = record["trainset"]
        out["questions_per_s"] = (1000.0 * train["questions"] / train["ms"]) if train["ok"] else 0.0
        by_q = {}
        for qid, node, rank in train.get("retrieved", []):
            by_q.setdefault(qid, []).append((rank, node))
        preds = [[n for _, n in sorted(by_q.get(q["id"], []))] for q in questions]
        golds = [q["gold"] for q in questions]
    out["answer_recall"], out["answer_mrr"] = quality(preds, golds) if preds else (0.0, 0.0)
    return out


_TARGET_ANCHOR = re.compile(r'\((x\d):(\w+) \{name: "(?:[^"\\]|\\.)*"\}\)')


def _query_pattern(cypher):
    """The MATCH pattern of a candidate query, which is what a retrieved
    row's provenance shows once the row's own name anchor is dropped."""
    tgt = re.search(r"RETURN DISTINCT (x\d)\.name", cypher).group(1)
    return tgt, cypher[len("MATCH "):cypher.index(" RETURN ")]


def query_yield(answered):
    executed = contributed = 0
    for r in answered:
        seen = set()
        for row in r["retrieved"]:
            seen.update(row["patterns"])
        for cypher in r["top"]:
            tgt, pattern = _query_pattern(cypher)
            executed += 1
            if any(_TARGET_ANCHOR.sub(lambda m: f"({m.group(1)}:{m.group(2)})"
                                      if m.group(1) == tgt else m.group(0), p) == pattern
                   for p in seen):
                contributed += 1
    return contributed / executed if executed else 0.0


def per_layer(record, questions):
    out = {name: 0.0 for name in per_layer_names()}
    calls = {}
    for s in record["spans"]:
        calls.setdefault(s["name"], []).append(s)
    for name, ss in calls.items():
        values = {"ms": [s["ms"] for s in ss], "jobs": [s["jobs"] for s in ss],
                  "tasks": [s["tasks"] for s in ss], "task_ms": [s["taskMs"] for s in ss],
                  "idle_ms": [s["idleMs"] for s in ss],
                  "shuffle_mb": [s["shuffleBytes"] / MB for s in ss],
                  "catalyst_ms": [s["catalystMs"] for s in ss]}
        for c, xs in values.items():
            key = f"{name}.{c}"
            if key in out:
                out[key] = float(statistics.median(xs))
    reqs = record["requests"]
    ok = [r for r in reqs if r["ok"]]
    ops = operations(record)
    train = record.get("trainset")
    if record["workload"] == "qa_online":
        # over every answered question: the warm-up holds the fuzzy_part one
        answered = [r for r in record["warmup"] + reqs if r["ok"]]
        mentions = sum(r["mentions"] for r in answered)
        out["GraphRaft.matchEntities.fallback_ratio"] = (
            sum(r["fallbacks"] for r in answered) / mentions if mentions else 0.0)
        out["GraphRaft.retrieveData.query_yield"] = query_yield(answered)
    elif train["ok"]:
        out["TrainingData.useful_ratio"] = train["useful"] / max(1, train["candidates"])
        out["TrainingData.bestLabelGate.pass_ratio"] = len(train["gated"]) / max(1, train["questions"])
    out["retained_mb"] = record["retained_bytes"] / MB
    out["failed_ratio"] = sum(1 for r in ops if not r["ok"]) / max(1, len(ops))
    out["request_tail_pct"], out["requests_n"] = float(tail([r["ms"] for r in ok] or [0])[1]), len(ok)
    return out
