"""Turns one run's raw record (what `medbench.Main` writes) into metrics.

Pure functions only, so the rules are unit-tested without a JVM.
"""

import math
import statistics

# Percentiles the `_tail` rule may pick, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10

MODULES = ("sources", "runner", "tables", "transform", "sql", "graft_other",
           "bench", "other")

# lake_sql_reads issues its queries in passes through this fixed mix.
READ_MIX = ("lookup", "lookup", "scan", "lookup", "join")


def nearest_rank(sorted_values, pct):
    """The nearest-rank percentile of an ascending list, and its 1-based rank."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_values[rank - 1], rank


def tail(values):
    """The `_tail` rule: the highest percentile of TAIL_LADDER that still has
    at least TAIL_BEYOND samples strictly beyond its nearest rank.

    Returns (value, percentile, samples beyond) or None when even the median
    has fewer than TAIL_BEYOND samples beyond it."""
    s = sorted(values)
    for pct in TAIL_LADDER if s else ():
        value, rank = nearest_rank(s, pct)
        if len(s) - rank >= TAIL_BEYOND:
            return value, pct, len(s) - rank
    return None


def first_graft_frame(call_site):
    """The first `graft.*` frame of a long call site, e.g.
    `graft.tables.LakeTable.commitData`, or None."""
    for line in (call_site or "").splitlines():
        line = line.strip()
        line = line[3:] if line.startswith("at ") else line
        if line.startswith("graft."):
            return line.split("(")[0]
    return None


def module_of(call_site):
    """Module a Spark job belongs to: the package of the first `graft.*` frame
    of its long call site (`graft.tables.LakeTable.commitData(...)` ->
    `tables`). Top-level `graft` objects and packages outside the five
    platform modules map to `graft_other`; a call site with no platform
    frame is the benchmark's own (`bench`) or `other`."""
    frame = first_graft_frame(call_site)
    if frame is None:
        return "bench" if "medbench." in (call_site or "") else "other"
    pkg = frame.split(".")[1]
    return pkg if pkg in MODULES[:5] else "graft_other"


def job_module(job, execution_sites):
    """module_of for a job. Jobs that SQL runs on its own threads (broadcasts,
    subqueries) have no platform frame in their call site; they take the call
    site of the SQL execution they belong to."""
    mod = module_of(job["call_site"])
    site = execution_sites.get(job.get("execution", -1))
    if mod == "other" and site:
        return module_of(site)
    return mod


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def median(values):
    return statistics.median(values) if values else None


def latencies(ops):
    """Sample list for a set of operations: a failed operation counts as
    missing every latency limit (infinite)."""
    return [o["ms"] if o["ok"] else math.inf for o in ops]


def measured(raw, kind=None):
    return [o for o in raw["ops"] if o["phase"] == "measure"
            and (kind is None or o["kind"] == kind)]


def rounds(raw):
    """Per incremental round: wall of its ingest + transform + test."""
    by_round = {}
    for o in measured(raw):
        r = o["attrs"].get("round")
        if r is not None:
            by_round.setdefault(r, []).append(o)
    return [sum(latencies(ops)) for _, ops in sorted(by_round.items())]


def primary_ops(raw):
    """The workload's unit of work, as latency samples in ms: an incremental
    round, a commit, or one pass through READ_MIX."""
    w = raw["workload"]
    if w == "opralog_incremental":
        return rounds(raw)
    if w == "append_commit_storm":
        return latencies(measured(raw, "commit"))
    q = latencies([o for o in measured(raw) if o["kind"].startswith("sql_")])
    n = len(READ_MIX)
    return [sum(q[i:i + n]) for i in range(0, len(q) - n + 1, n)]


def setup_s(raw, fixture_s):
    return median(fixture_s) + median(raw["setup_ms"]) / 1000.0


def end_to_end(raw, fixture_s):
    """The metrics every workload reports (BENCHMARK.json `end_to_end`)."""
    g = raw["gauges"]
    return {
        "setup_s": (setup_s(raw, fixture_s), "s"),
        "op_p50_ms": (median(primary_ops(raw)), "ms"),
        "work_s": (sum(latencies(measured(raw))) / 1000.0, "s"),
        "heap_live_mb": (g["heap_live_mb"], "MB"),
        "stored_bytes_per_source_byte": (g["stored_bytes"] / g["source_bytes"], "ratio"),
    }


def _p50_s(ops):
    m = median(latencies(ops))
    return None if m is None else m / 1000.0


def _tail_entries(name, samples):
    t = tail(samples)
    if t is None:
        return {name: (None, "ms", {"samples": len(samples), "note": "fewer than "
                                    f"{TAIL_BEYOND} samples beyond the median"})}
    value, pct, beyond = t
    return {name: (value, "ms", {"percentile": pct, "samples": len(samples),
                                 "samples_beyond": beyond})}


def workload_metrics(raw, fixture_s, peak_rss_mb):
    """The workload's own named metrics (name -> (value, unit[, detail]))."""
    w = raw["workload"]
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    g = raw["gauges"]
    out = {"setup_s": (setup_s(raw, fixture_s), "s"),
           "peak_rss_mb": (peak_rss_mb, "MB"),
           "heap_live_mb": (g["heap_live_mb"], "MB"),
           "failed_ops_ratio": (failed / attempted if attempted else 0.0,
                                "failed/attempted")}
    if w in ("opralog_incremental", "append_commit_storm"):
        out["maintain_s"] = (_p50_s(measured(raw, "maintain")), "s")
        out["stored_bytes_per_source_byte"] = (g["stored_bytes"] / g["source_bytes"], "ratio")
    if w == "opralog_incremental":
        init = measured(raw, "initial_load")
        out["initial_load_rows_per_s"] = (
            init[0]["attrs"]["rows"] / (init[0]["ms"] / 1000.0)
            if init and init[0]["ok"] else None, "rows/s")
        r = rounds(raw)
        out["ingest_round_p50_s"] = (_p50_s(measured(raw, "ingest")), "s",
                                     {"samples": len(r)})
        out["transform_p50_s"] = (_p50_s(measured(raw, "transform")), "s")
        # `elt test` rebuilds every model before testing: see
        # transform.test_rebuild_ms in the traced run
        out["data_tests_p50_s"] = (_p50_s(measured(raw, "test")), "s")
    elif w == "append_commit_storm":
        c = latencies(measured(raw, "commit"))
        out["commit_p50_ms"] = (median(c), "ms", {"samples": len(c)})
        out.update(_tail_entries("commit_tail_ms", c))
    elif w == "lake_sql_reads":
        for kind in ("lookup", "scan", "join"):
            s = latencies(measured(raw, f"sql_{kind}"))
            out[f"sql_{kind}_p50_ms"] = (median(s), "ms", {"samples": len(s)})
        out.update(_tail_entries("sql_lookup_tail_ms",
                                 latencies(measured(raw, "sql_lookup"))))
    return out


# ---- per-layer metrics from a traced run ---------------------------------------


def per_layer(raw):
    t = raw["trace"]
    meas = {o["id"]: o for o in measured(raw)}
    spans = [s for s in t["spans"] if s["op"] in meas]
    all_spans = t["spans"]
    jobs = [j for j in t["jobs"] if j["op"] in meas]
    execution_sites = {e["id"]: e["call_site"] for e in t["sql_executions"]}
    for j in jobs:
        j["module"] = job_module(j, execution_sites)
        j["ms"] = j["end"] - j["start"]

    def dur(names, pool=spans):
        return sum(s["end"] - s["start"] for s in pool if s["name"] in names)

    def count(names, pool=spans):
        return sum(1 for s in pool if s["name"] in names)

    children = {}
    for s in all_spans:
        children.setdefault(s["parent"], []).append(s)

    def descendants(span_id):
        out, pending = [], list(children.get(span_id, []))
        while pending:
            s = pending.pop()
            out.append(s)
            pending.extend(children.get(s["id"], []))
        return out

    m = {}
    # sources
    m["sources.extract_ms"] = dur({"sources.extract", "sources.chunk"})
    m["sources.chunks"] = count({"sources.chunk"})
    ingests = [s for s in spans if s["name"] == "runner.runIngest"]
    m["sources.rows_extracted"] = sum(sum(s["attrs"].get("rows", {}).values())
                                      for s in ingests)
    m["sources.jobs"] = sum(1 for j in jobs if j["module"] == "sources")

    # runner: runIngest wall minus its extractor spans and the Spark jobs
    # other modules started inside it
    self_ms = 0.0
    for s in ingests:
        inner = [(d["start"], d["end"]) for d in descendants(s["id"])
                 if d["name"].startswith("sources.")]
        inner += [(j["start"], j["end"]) for j in jobs
                  if j["op"] == s["op"] and j["module"] != "runner"]
        self_ms += (s["end"] - s["start"]) - union_ms(inner, s["start"], s["end"])
    m["runner.self_ms"] = self_ms
    bookkeeping = [j for j in jobs if "graft.runner.LoadBookkeeping" in j["call_site"]]
    m["runner.chunk_stats_job_ms"] = sum(
        j["ms"] for j in jobs if j["module"] == "runner" and j not in bookkeeping)
    m["runner.bookkeeping_commits"] = sum(
        d for o in meas.values() for tbl, d in o["attrs"].get("commits", {}).items()
        if tbl.rsplit("/", 1)[-1].startswith("_dlt_"))
    m["runner.bookkeeping_job_ms"] = sum(j["ms"] for j in bookkeeping)

    # tables
    m["tables.commits"] = sum(d for o in meas.values()
                              for d in o["attrs"].get("commits", {}).values())
    m["tables.write_job_ms"] = sum(j["ms"] for j in jobs if j["module"] == "tables")
    m["tables.commit_driver_ms"] = sum(
        (s["end"] - s["start"]) - union_ms(
            [(j["start"], j["end"]) for j in jobs if j["op"] == s["op"]],
            s["start"], s["end"])
        for s in spans if s["name"] == "tables.append")
    commits = [o["ms"] for o in measured(raw, "commit")]
    k = max(1, len(commits) // 10)
    m["tables.commit_ms_last_decile_over_first"] = (
        median(commits[-k:]) / median(commits[:k]) if commits else 0.0)
    probes = [s for s in all_spans if s["name"] == "tables.metadata_serialize"
              and "table" in s["attrs"]]
    peak = {}
    for s in probes:
        p = peak.setdefault(s["attrs"]["table"], {"bytes": 0, "snapshots": 0, "data_files": 0})
        for key in p:
            p[key] = max(p[key], s["attrs"][key])
    m["tables.metadata_json_bytes"] = sum(p["bytes"] for p in peak.values())
    m["tables.metadata_read_ms"] = dur({"tables.metadata_read"}, all_spans)
    m["tables.metadata_serialize_ms"] = dur({"tables.metadata_serialize"}, all_spans)
    m["tables.version_probe_ms"] = dur({"tables.version_probe"}, all_spans)
    m["tables.snapshots"] = sum(p["snapshots"] for p in peak.values())
    m["tables.data_files"] = sum(p["data_files"] for p in peak.values())
    merges = [x for o in meas.values() for x in o["attrs"].get("merge", [])]
    changed = sum(x["rows_changed"] for x in merges)
    before = sum(x["files_before"] for x in merges)
    m["tables.merge_rows_rewritten_per_row_changed"] = (
        sum(x["rows_rewritten"] for x in merges) / changed if changed else 0.0)
    m["tables.merge_files_carried_ratio"] = (
        sum(x["files_carried"] for x in merges) / before if before else 0.0)
    for name in ("compact", "expire_snapshots", "remove_orphans", "expire_metadata"):
        m[f"tables.{name}_ms"] = dur({f"tables.{name}"})

    # transform
    m["transform.run_ms"] = dur({"transform.run"})
    m["transform.models_built"] = sum(o["attrs"].get("models_built", 0) for o in meas.values())
    m["transform.table_models_written"] = sum(
        1 for o in meas.values() if o["kind"] == "transform"
        for tbl in o["attrs"].get("commits", {}) if tbl.startswith("facility_ops/"))
    data_test_ms = sum(
        e["end"] - e["start"] for e in t["sql_executions"]
        if e["op"] in meas and "end" in e
        and (first_graft_frame(e["call_site"]) or "").startswith("graft.transform.DataTests"))
    m["transform.data_test_ms"] = data_test_ms
    m["transform.test_rebuild_ms"] = dur({"transform.cli_test"}) - data_test_ms

    # sql: the benchmark's own lake SQL queries
    sql_ops = {i for i, o in meas.items() if o["kind"].startswith("sql_")}
    queries = [q for q in t["queries"] if q["op"] in sql_ops]
    for phase in ("analysis", "optimization", "planning", "execution"):
        m[f"sql.{phase}_ms"] = sum(q[f"{phase}_ms"] for q in queries)
    m["sql.catalog_load_ms"] = dur({"sql.catalog_load"},
                                   [s for s in spans if s["op"] in sql_ops])
    files_read = sum(q["files_read"] for q in queries)
    m["sql.files_read_per_query"] = files_read / len(sql_ops) if sql_ops else 0.0
    tables_files = {p.rsplit("/", 1)[-1]: v["data_files"] for p, v in peak.items()}
    available = sum(tables_files.get("entries", 0)
                    + (tables_files.get("more_entry_columns", 0)
                       if meas[i]["kind"] == "sql_join" else 0) for i in sql_ops)
    m["sql.file_skip_ratio"] = 1.0 - files_read / available if available else 0.0
    returned = sum(meas[i]["attrs"].get("rows", 0) for i in sql_ops)
    m["sql.rows_read_per_row_returned"] = (
        sum(q["rows_read"] for q in queries) / returned if returned else 0.0)

    # spark engine
    totals = [x for x in t["task_totals"] if x["op"] in meas]
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = sum(x["stages"] for x in totals)
    m["spark.tasks"] = sum(x["tasks"] for x in totals)
    m["spark.job_wall_ms"] = sum(j["ms"] for j in jobs)
    m["spark.driver_gap_ms"] = sum(
        o["ms"] - union_ms([(j["start"], j["end"]) for j in jobs if j["op"] == i],
                           o["start"], o["start"] + o["ms"])
        for i, o in meas.items())
    for key in ("executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{key}"] = sum(x[key] for x in totals)
    m["spark.peak_execution_memory_bytes"] = max(
        [x["peak_execution_memory_bytes"] for x in totals], default=0)
    for mod in MODULES:
        mine = [j for j in jobs if j["module"] == mod]
        m[f"spark.jobs.{mod}"] = len(mine)
        m[f"spark.job_ms.{mod}"] = sum(j["ms"] for j in mine)

    m["trace.overhead_ms"] = dur({"trace.overhead"}, all_spans) + t.get("drain_ms", 0.0)
    return m


PER_LAYER_UNITS = {
    "_ms": "ms", "_bytes": "bytes", "_ratio": "ratio", "_per_query": "files/query",
    "_per_row_returned": "rows/row", "_per_row_changed": "rows/row",
    "_over_first": "ratio",
}


def unit_of(name):
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    if ".job_ms." in name:
        return "ms"
    return "count"
