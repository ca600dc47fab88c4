"""Turns what the harness JVM reports into the benchmark's metrics.

Pure functions over the harness's result JSON (see harness Main.scala) and
the generator's ground truth, so that the self-tests can drive them with
hand-built inputs.
"""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# The operations each workload is measured by; "rerun" ops count towards a
# pass but not towards the per-operation latency.
MAIN_KINDS = ("refresh", "query")

SPARK_KEYS = ("jobs", "stages", "tasks", "task_busy_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "output_bytes",
              "peak_exec_mem_bytes", "gc_s", "failed_tasks")

# Which end-to-end metric each per-layer metric should move, on which
# workload. The trace.* and check.* metrics describe the traced run itself.
_ETL = [("latency_p50_s", "etl_incremental"), ("pass_s", "etl_incremental")]
_QUERY = [("latency_p50_s", "query_core"), ("pass_s", "query_core")]
MOVES = {name: _ETL for name in (
    "stage.ingest_s", "stage.catalog_s", "stage.flatview_s",
    "stage.dashboard_s", "ingest.busy_s", "ingest.works_read",
    "ingest.works_gated", "ingest.gate_ratio", "ingest.aff_rows",
    "norm.busy_s", "norm.strings", "entities.resolve_s", "entities.merge_s",
    "entities.authors", "entities.affiliations", "warehouse.write_s",
    "warehouse.rows_written", "warehouse.bytes_written",
    "warehouse.files_written", "warehouse.swaps", "warehouse.novel_ratio",
    "catalog.busy_s", "flatview.busy_s", "flatview.rows", "dashboard.busy_s",
    "dashboard.queries")}
MOVES["stage.rerun_s"] = [("pass_s", "etl_incremental")]
MOVES.update({name: _QUERY for name in (
    "queries.core.busy_s", "queries.olap.busy_s", "queries.ext.busy_s")})
MOVES.update({"spark." + k: _ETL + _QUERY
              for k in SPARK_KEYS + ("core_util",)})
MOVES.update({name: [] for name in (
    "trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s",
    "trace.gap_s", "trace.unaccounted_s", "trace.self_s", "check.busy_s")})


def layer(span_name):
    """A span named ``<layer>.<call>`` belongs to ``<layer>``."""
    return span_name.rsplit(".", 1)[0]


def self_times(spans):
    """Each span's duration minus the part of it its children cover.

    ``spans`` are dicts with ``id``, ``parent``, ``start`` and ``end``.
    Returns ``{id: seconds}``.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cursor = s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_self_times(spans):
    """Self time summed per layer: ``{layer: seconds}``."""
    st = self_times(spans)
    out = {}
    for s in spans:
        k = layer(s["name"])
        out[k] = out.get(k, 0.0) + st[s["id"]]
    return out


def _failed_steps(observed, truth):
    """(pass, step) of the ETL steps whose checks fail, with the reasons."""
    bad = {}
    for ob in observed:
        step = ob["step"]
        why = []
        expect = truth.get(step)
        if expect is not None:
            if ob["vista_rows"] != expect["gated"]:
                why.append("vista rows %d != gated %d"
                           % (ob["vista_rows"], expect["gated"]))
            if ob["per_year"] != expect["per_year"]:
                why.append("works-per-year chart differs from the truth")
            f = ob["facts"]
            if not f["obras"] == f["obras_clean"] == ob["vista_rows"]:
                why.append("works %d, clean works %d, view rows %d differ"
                           % (f["obras"], f["obras_clean"], ob["vista_rows"]))
            if ob["oaa_dois"] != ob["vista_with_authors"]:
                why.append("bridge works %d != view works with authors %d"
                           % (ob["oaa_dois"], ob["vista_with_authors"]))
        if step == "rerun" and ob["facts"] != ob["prev_facts"]:
            why.append("re-run wrote rows: %s -> %s"
                       % (ob["prev_facts"], ob["facts"]))
        if ob["author_ids_changed"] or ob["affiliation_ids_changed"]:
            why.append("surrogate ids changed: %d authors, %d affiliations"
                       % (ob["author_ids_changed"],
                          ob["affiliation_ids_changed"]))
        if why:
            bad[(ob["pass"], step)] = "; ".join(why)
    return bad


def failures(result, truth, oracle_failed=()):
    """Marks each operation failed or not.

    An operation fails if it raised, if the checks of the warehouse state it
    produced fail (ETL), or if its query's result differs from the oracle.
    Returns ``(attempted, failed, reasons)``.
    """
    observed = result.get("observed", [])
    bad_steps = _failed_steps(observed, truth)
    seen = {(ob["pass"], ob["step"]) for ob in observed}
    # a failed check of the preloaded base fails every operation
    base = bad_steps.get((-1, "base"))
    n_failed = 0
    reasons = []
    for op in result["ops"]:
        step = "rerun" if op["kind"] == "rerun" else op["name"]
        why = []
        if not op["ok"]:
            why.append("raised")
        if (op["pass"], step) in bad_steps:
            why.append(bad_steps[(op["pass"], step)])
        if op["kind"] != "query" and (op["pass"], step) not in seen:
            why.append("outputs not checked")
        if base:
            why.append("base: " + base)
        if (op["kind"] == "query"
                and op["name"].split("_")[0] in oracle_failed):
            why.append("differs from the oracle")
        if why:
            n_failed += 1
            reasons.append("%s %s: %s" % (op["kind"], op["name"],
                                          "; ".join(why)))
    if not result["ops"]:
        return 1, 1, ["no operation completed"]
    return len(result["ops"]), n_failed, reasons


def end_to_end(result, wall_s):
    """The end-to-end metrics of an untraced run.

    Each operation (a refresh, a re-run, a query) is timed once a pass.
    ``latency_p50_s`` is the median over every timed refresh or query of
    the run, all passes pooled. ``pass_s`` is the sum over the operations
    of each one's median over the passes: one pass, re-run included.
    """
    per_op = {}
    for o in result["ops"]:
        if not o["traced"]:
            per_op.setdefault((o["kind"], o["name"]), []).append(o["s"])
    med = {k: statistics.median(v) for k, v in per_op.items()}
    lat = [s for (kind, _), v in per_op.items() if kind in MAIN_KINDS
           for s in v]
    return {
        "setup_s": (result["setup_s"], "s"),
        "latency_p50_s": (statistics.median(lat) if lat else wall_s, "s"),
        "pass_s": (sum(med.values()) if med else wall_s, "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }


def never_fast(metrics, wall_s):
    """A run with a failed operation reports every time as the whole run's
    wall time, so that it can never read as a fast run."""
    return {k: ((wall_s if u == "s" else v), u)
            for k, (v, u) in metrics.items()}


def per_layer(result):
    """The per-layer metrics of a traced run."""
    spans = [s for s in result["spans"] if s["end"] >= s["start"]]
    st = self_times(spans)
    by_layer = layer_self_times(spans)
    c = result.get("counters", {})
    eng = result.get("engine", {})
    names = {str(s["id"]): s["name"] for s in spans}

    def eng_sum(key, pred):
        return sum(v.get(key, 0.0) for sid, v in eng.items()
                   if sid in names and pred(names[sid]))

    def incl(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def self_of(pred):
        return sum(st[s["id"]] for s in spans if pred(s["name"]))

    wall = result["traced_wall_s"]
    cores = max(result.get("cores", 1), 1)
    works_read = c.get("ingest.works_read", 0.0)
    offered = c.get("warehouse.rows_offered", 0.0)
    appended = eng_sum("output_records",
                       lambda n: n == "warehouse.idempotentAppend")
    m = {
        "stage.ingest_s": incl("stage.ingest"),
        "stage.catalog_s": incl("stage.catalog"),
        "stage.flatview_s": incl("stage.flatview"),
        "stage.dashboard_s": incl("stage.dashboard"),
        "stage.rerun_s": incl("stage.rerun"),
        "ingest.busy_s": by_layer.get("ingest", 0.0),
        "ingest.works_read": works_read,
        "ingest.works_gated": c.get("ingest.works_gated", 0.0),
        "ingest.gate_ratio": (c.get("ingest.works_gated", 0.0) / works_read
                              if works_read else 0.0),
        "ingest.aff_rows": c.get("ingest.aff_rows", 0.0),
        "norm.busy_s": by_layer.get("norm", 0.0),
        "norm.strings": c.get("norm.strings", 0.0),
        "entities.resolve_s": self_of(
            lambda n: n in ("entities.resolve",
                            "entities.mapOccurrencesToAuthors")),
        "entities.merge_s": self_of(lambda n: n == "entities.merge"),
        "entities.authors": c.get("entities.authors", 0.0),
        "entities.affiliations": c.get("entities.affiliations", 0.0),
        "warehouse.write_s": by_layer.get("warehouse", 0.0),
        "warehouse.rows_written": eng_sum(
            "output_records", lambda n: layer(n) == "warehouse"),
        "warehouse.bytes_written": eng_sum(
            "output_bytes", lambda n: layer(n) == "warehouse"),
        "warehouse.files_written": c.get("warehouse.files_written", 0.0),
        "warehouse.swaps": c.get("warehouse.swaps", 0.0),
        "warehouse.novel_ratio": appended / offered if offered else 0.0,
        "catalog.busy_s": by_layer.get("catalog", 0.0),
        "flatview.busy_s": by_layer.get("flatview", 0.0),
        "flatview.rows": c.get("flatview.rows", 0.0),
        "dashboard.busy_s": by_layer.get("dashboard", 0.0),
        "dashboard.queries": c.get("dashboard.queries", 0.0),
        "queries.core.busy_s": by_layer.get("queries.core", 0.0),
        "queries.olap.busy_s": by_layer.get("queries.olap", 0.0),
        "queries.ext.busy_s": by_layer.get("queries.ext", 0.0),
    }
    total = {k: eng_sum(k, lambda n: True) for k in SPARK_KEYS}
    total["peak_exec_mem_bytes"] = max(
        [v.get("peak_exec_mem_bytes", 0.0) for v in eng.values()] or [0.0])
    for k in SPARK_KEYS:
        m["spark." + k] = total[k]
    m["spark.core_util"] = (total["task_busy_s"] / (wall * cores)
                            if wall > 0 else 0.0)
    # the traced pass is the span "run"; the Normalize projection that
    # follows it is a root of its own
    inside = {s["id"] for s in spans if s["name"] == "run"}
    for s in sorted(spans, key=lambda s: s["id"]):
        if s["parent"] in inside:
            inside.add(s["id"])
    accounted = sum(st[i] for i in inside)
    m["trace.wall_s"] = wall
    m["trace.untraced_wall_s"] = result["untraced_wall_s"]
    m["trace.overhead_s"] = wall - result["untraced_wall_s"]
    m["trace.gap_s"] = by_layer.get("run", 0.0)
    m["trace.unaccounted_s"] = wall - accounted
    m["trace.self_s"] = by_layer.get("trace", 0.0)
    m["check.busy_s"] = by_layer.get("check", 0.0)
    return {k: (v, unit(k)) for k, v in m.items()}


def unit(name):
    """The unit of a per-layer metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio") or name == "spark.core_util":
        return "ratio"
    return "count"
