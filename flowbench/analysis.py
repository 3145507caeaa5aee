"""Metrics from one benchmark run's raw record (written by the JVM harness).

End-to-end metrics come from the untraced iterations; per-layer metrics from
the traced ones, as self times and counts derived from spans. A span is a
dict with `id`, `name`, `kind`, `parent`, `iter`, `start`, `end` (epoch ms).
"""
import json
import math
import statistics

QUERIES = ["q70_fuzzy_dups", "q86_personalized_pagerank", "q102_bpe_learn",
           "q123_containment_pairs", "q124_native_asof_join"]
HEADLINE_QUERIES = ["q70_fuzzy_dups", "q123_containment_pairs", "q102_bpe_learn",
                    "q86_personalized_pagerank"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """Highest whole percentile with at least ten samples beyond it, by
    nearest rank. Returns (percentile, value), or None below 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    p = (100 * (n - 10)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(samples)[rank - 1]


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
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


def self_time(span, children):
    """Span duration minus the part of its interval its children cover."""
    s, e = span["start"], span["end"]
    clipped = [(max(s, c["start"]), min(e, c["end"])) for c in children]
    return (e - s) - union_length(clipped)


def write_trace(path, doc):
    """Write a trace document as strict JSON (no NaN or infinities)."""
    with open(path, "w") as f:
        json.dump(doc, f, allow_nan=False)


def flow_schedule(actions, spans, flow_start):
    """Ready time, queue wait and critical path of one flow execution.

    `actions` are the DAG records (guid, inputs, outputs, tags, deps);
    `spans` maps guid to the action's span. An action is ready when the
    last of its producers and tag dependencies has ended (flow start when
    it has none). The critical path is the longest path of busy time."""
    producer = {o: a["guid"] for a in actions for o in a["outputs"]}
    carriers = {}
    for a in actions:
        for t in a["tags"]:
            carriers.setdefault(t, []).append(a["guid"])
    deps = {}
    for a in actions:
        d = {producer[i] for i in a["inputs"] if i in producer}
        for t in a["deps"]:
            d.update(carriers.get(t, []))
        d.discard(a["guid"])
        deps[a["guid"]] = d
    ran = [a["guid"] for a in actions if a["guid"] in spans]
    ran.sort(key=lambda g: spans[g]["start"])
    waits, path = [], {}
    for g in ran:
        sp = spans[g]
        ends = [spans[d]["end"] for d in deps[g] if d in spans]
        ready = max([flow_start] + ends)
        waits.append(max(0.0, sp["start"] - ready))
        path[g] = (sp["end"] - sp["start"]) + max([path[d] for d in deps[g] if d in path] or [0.0])
    busy = sum(spans[g]["end"] - spans[g]["start"] for g in ran)
    return {"busy": busy, "critical_path": max(path.values() or [0.0]), "waits": waits,
            "actions": len(ran)}


# units of the end-to-end metrics a run reports beside those in BENCHMARK.json
REPORT_ONLY_UNITS = {
    "failed_frac": "fraction", "append_p50_s": "s", "append_tail_s": "s",
    "snapshot_p50_s": "s", "snapshot_tail_s": "s", "compact_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    **{f"{q.split('_')[0]}_s": "s" for q in HEADLINE_QUERIES}}


def end_to_end(raw, oracle_failures=()):
    """Metric -> (value, sample count[, tail percentile])."""
    its = [i for i in raw["iterations"] if i["phase"] == "measure"]
    walls = [i["wall"] for i in its]
    out = {
        "setup_s": (raw["setup_s"], 1),
        "wall_p50_s": (median(walls), len(walls)),
        "rows_per_s": (sum(i["rows"] for i in its) / sum(walls) if walls else 0.0, len(walls)),
        "heap_retained_mb": (raw["heap_retained_mb"], 1),
    }
    attempted, failed = counts(raw, oracle_failures)
    out["failed_frac"] = (failed / attempted if attempted else 1.0, attempted)

    def ops(name):
        return [x for i in its for x in i["ops"].get(name, [])]

    wl = raw["workload"]
    if wl == "audit_ingest":
        for op in ("append", "snapshot"):
            xs = ops(op)
            out[f"{op}_p50_s"] = (median(xs), len(xs))
            t = tail(xs)
            out[f"{op}_tail_s"] = (t[1] if t else None, len(xs), f"p{t[0]}" if t else "n<11")
        xs = ops("compact")
        out["compact_s"] = (median(xs), len(xs))
        stored = raw["summary"]["stored_bytes"]
        out["stored_bytes_per_input_byte"] = (
            median(stored) / raw["summary"]["input_bytes"], len(stored))
    if wl == "curation_chain":
        for q in HEADLINE_QUERIES:
            xs = [sum(i["ops"].get(q, [])) for i in its]
            out[f"{q.split('_')[0]}_s"] = (median(xs), len(xs))
    return out


def counts(raw, oracle_failures=()):
    attempted = sum(i["attempted"] for i in raw["iterations"])
    failed = sum(i["failed"] for i in raw["iterations"])
    if raw["workload"] == "curation_chain":
        attempted += len(QUERIES)
        failed += len(oracle_failures)
    return attempted, failed


def errors(raw, oracle_failures=()):
    errs = {}
    for i in raw["iterations"]:
        for e in i["errors"]:
            errs[e] = errs.get(e, 0) + 1
    if oracle_failures:
        errs["flowbench.OracleMismatch"] = len(oracle_failures)
    return errs


def attribute_jobs(trace):
    """Map each Spark job to the span that issued it: storage calls set the
    job description `flowbench:span:<id>`; flow actions run under
    `graft: <action description>`, matched by description and time."""
    spans = trace["spans"]
    by_desc = {}
    for s in spans:
        if s.get("job_desc"):
            by_desc.setdefault(s["job_desc"], []).append(s)
    by_id = {s["id"]: s for s in spans}
    owner = {}
    for j in trace["jobs"]:
        d = j.get("desc") or ""
        if d.startswith("flowbench:span:"):
            owner[j["job"]] = by_id.get(int(d.rsplit(":", 1)[1]))
        else:
            for s in by_desc.get(d, []):
                if s["start"] - 5 <= j["start"] <= s["end"] + 5:
                    owner[j["job"]] = s
                    break
    return owner


def stage_spans(trace):
    """Completed stages as spans whose parent is the issuing span."""
    owner = attribute_jobs(trace)
    stage_job = {}
    for j in trace["jobs"]:
        for sid in j["stages"]:
            stage_job[sid] = j
    out = []
    for st in trace["stages"]:
        j = stage_job.get(st["stage"])
        if j is None or st["submit"] <= 0:
            continue
        parent = owner.get(j["job"])
        out.append(dict(st, name=f"stage {st['stage']}", kind="stage",
                        id=f"stage-{st['stage']}-{st['attempt']}",
                        start=st["submit"], end=st["complete"], job=j["job"],
                        job_start=j["start"],
                        parent=parent["id"] if parent else None,
                        iter=parent["iter"] if parent else None))
    return out


def per_layer(raw, nproc):
    trace = raw["trace"]
    spans = trace["spans"]
    stages = stage_spans(trace)
    iters = [i for i in raw["iterations"] if i["phase"] == "traced"]
    by_id = {s["id"]: s for s in spans}
    summary = raw.get("summary", {})

    def root_action(span):
        """Nearest enclosing action span, if any."""
        while span is not None and span["kind"] not in ("action", "storage"):
            span = by_id.get(span.get("parent"))
        return span

    rows = []
    for it in iters:
        n = it["iter"]
        root = next(s for s in spans if s["kind"] == "iteration" and s["iter"] == n)
        lo, hi = root["start"], root["end"]
        wall = (hi - lo) / 1000.0
        sp = [s for s in spans if s["iter"] == n]
        st = [s for s in stages if lo <= s["job_start"] <= hi]
        qs = [q for q in trace["queries"] if lo <= q["start"] <= hi]
        m = {}

        def dur(kind=None, prefix=None):
            return sum((s["end"] - s["start"]) / 1000.0 for s in sp
                       if (kind is None or s["kind"] == kind)
                       and (prefix is None or s["name"].startswith(prefix)))

        def stage_sum(key, pred=lambda s: True):
            total = 0.0
            for s in st:
                owner = by_id.get(s["parent"])
                if pred(root_action(owner) if owner else None):
                    total += s[key]
            return total

        # dataflow: DAG + executor
        flows = [f for f in trace["flows"] if f["iter"] == n]
        waits, busy, cp, exec_wall, actions = [], 0.0, 0.0, 0.0, 0
        for f in flows:
            acts = {s["guid"]: s for s in sp if s["kind"] == "action" and s["parent"] == f["span"]}
            ex = next(s for s in sp if s["kind"] == "execute" and s["parent"] == f["span"])
            r = flow_schedule(f["actions"], acts, ex["start"])
            waits += r["waits"]
            busy += r["busy"]
            cp += r["critical_path"]
            exec_wall += ex["end"] - ex["start"]
            actions += r["actions"]
        m["dataflow.prepare_s"] = dur("prepare")
        m["dataflow.actions_n"] = actions
        m["dataflow.busy_s"] = busy / 1000.0
        m["dataflow.critical_path_s"] = cp / 1000.0
        m["dataflow.sched_overhead_s"] = (exec_wall - cp) / 1000.0
        m["dataflow.queue_wait_p50_s"] = median(waits) / 1000.0
        m["dataflow.queue_wait_max_s"] = max(waits or [0.0]) / 1000.0
        m["dataflow.concurrency_mean"] = busy / exec_wall if exec_wall else 0.0

        # dataflow.spark: cache, commit and write actions
        def named(prefix):
            return lambda a: a is not None and a["name"].startswith(prefix)
        m["dataflow.spark.cache_write_s"] = dur("action", "cacheAsParquet:")
        m["dataflow.spark.cache_bytes"] = stage_sum("output", named("cacheAsParquet:"))
        m["dataflow.spark.commit_stage_s"] = dur("action", "commitStage:")
        m["dataflow.spark.commit_move_s"] = dur("action", "commitMove:")
        m["dataflow.spark.commit_finish_s"] = dur("action", "commitCleanup:")
        m["dataflow.spark.commit_bytes"] = stage_sum("output", named("commitStage:"))
        m["dataflow.spark.write_s"] = dur("action", "writeParquet:")
        m["dataflow.spark.write_bytes"] = stage_sum("output", named("writeParquet:"))
        m["dataflow.spark.write_files"] = sum(it["counters"].get("write_files", []))

        # storage
        c = it["counters"]
        m["storage.open_s"] = dur("storage", "storage.open")
        m["storage.append_bytes"] = sum(c.get("append_bytes", []))
        m["storage.append_files"] = sum(c.get("append_files", []))
        regions = c.get("snapshot_regions", [])
        m["storage.snapshot_regions_p50"] = median(regions)
        m["storage.snapshot_regions_max"] = max(regions or [0])
        m["storage.snapshot_shuffle_bytes"] = stage_sum(
            "shuffle_write", lambda a: a is not None and a["name"] == "storage.snapshot")
        m["storage.compact_rows_in"] = sum(c.get("compact_rows_in", []))
        m["storage.compact_rows_out"] = sum(c.get("compact_rows_out", []))
        m["storage.compact_bytes_rewritten"] = sum(c.get("compact_bytes", []))
        written = m["storage.append_bytes"] + m["storage.compact_bytes_rewritten"]
        m["storage.write_amplification"] = (written / summary["input_bytes"]
                                            if summary.get("input_bytes") else 0.0)

        # operators / sql / plans: per gate query
        for q in QUERIES:
            mine = named(f"open:{q}"), named(f"write:{q}")
            is_q = lambda a, mine=mine: mine[0](a) or mine[1](a)
            own = [s for s in st if is_q(root_action(by_id.get(s["parent"])))]
            m[f"op.{q}.wall_s"] = dur("action", f"open:{q}") + dur("action", f"write:{q}")
            m[f"op.{q}.cpu_s"] = sum(s["cpu_ns"] for s in own) / 1e9
            m[f"op.{q}.shuffle_bytes"] = sum(s["shuffle_write"] for s in own)
            big = max(own, key=lambda s: s["run_ms"], default=None)
            m[f"op.{q}.skew"] = (big["task_max_ms"] / big["task_median_ms"]
                                 if big and big["task_median_ms"] > 0 else 0.0)

        # spark, under every layer
        m["spark.jobs_n"] = len({s["job"] for s in st})
        m["spark.stages_n"] = len(st)
        m["spark.tasks_n"] = sum(s["tasks"] for s in st)
        m["spark.planning_s"] = sum(q["planning_ms"] for q in qs) / 1000.0
        m["spark.executor_run_s"] = sum(s["run_ms"] for s in st) / 1000.0
        m["spark.executor_cpu_s"] = sum(s["cpu_ns"] for s in st) / 1e9
        m["spark.gc_s"] = sum(s["gc_ms"] for s in st) / 1000.0
        m["spark.shuffle_read_bytes"] = sum(s["shuffle_read"] for s in st)
        m["spark.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in st)
        m["spark.spill_bytes"] = sum(s["spill"] for s in st)
        m["spark.input_bytes"] = sum(s["input"] for s in st)
        m["spark.output_bytes"] = sum(s["output"] for s in st)
        m["spark.scheduler_delay_s"] = sum(s["sched_delay_ms"] for s in st) / 1000.0
        m["spark.driver_gap_s"] = self_time(root, st) / 1000.0
        m["spark.cpu_util"] = m["spark.executor_cpu_s"] / (wall * nproc) if wall else 0.0
        m["_wall"] = wall
        rows.append(m)

    out = {k: median([r[k] for r in rows]) for k in (rows[0] if rows else {}) if k != "_wall"}
    untraced = [i["wall"] for i in raw["iterations"] if i["phase"] == "untraced"]
    traced = [i["wall"] for i in iters]
    seq = [i["wall"] for i in raw["iterations"] if i["phase"] == "sequential"]
    out["dataflow.seq_wall_s"] = median(seq)
    out["dataflow.parallel_speedup"] = median(seq) / median(untraced) if untraced else 0.0
    out["env.canary_first_s"] = raw["canary_first_s"]
    out["env.canary_last_s"] = raw["canary_last_s"]
    out["trace.overhead_frac"] = (median(traced) / median(untraced) - 1.0
                                  if untraced and traced else 0.0)
    return out, stages
