"""Turns the driver's raw spans into the benchmark's metrics.

Span kinds written by the driver: `warm` (the set-up pass), `measured`
(untraced pass), `traced` (pass whose query ops are split into `builder`,
`planning` and `exec` layer spans), `op` (one operation), `layer`, `load`
(one round of direct table loads) and `table` (one table load). Task
counters are attached to the innermost span open when a job started.
"""
import os

from stats import descendants, median, quartiles, self_times, tail

COUNTERS = ("jobs", "tasks", "task_s", "cpu_s", "shuffle_write_bytes",
            "input_bytes", "spill_bytes", "written_bytes", "written_records")
LAKE_STAGES = {"full.stage1": "stage1", "full.stage2": "stage2",
               "full.stage3": "stage3", "full.stage4": "stage4",
               "incremental.stage1": "stage1_incremental"}


class Spans:
    def __init__(self, spans):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.kids = {}
        for s in spans:
            self.kids.setdefault(s["parent"], []).append(s)
        self.self_s = self_times(spans)

    def total(self, span):
        """Counters summed over `span` and everything under it."""
        out = dict.fromkeys(COUNTERS, 0)
        for i in descendants(self.spans, span["id"]):
            for k in COUNTERS:
                out[k] += self.by_id[i]["counters"][k]
        return out

    def children(self, span, kind=None):
        return [s for s in self.kids.get(span["id"], ())
                if kind is None or s["kind"] == kind]

    def of_kind(self, *kinds):
        return [s for s in self.spans if s["kind"] in kinds]

    def under(self, span, name, kind):
        return [self.by_id[i] for i in descendants(self.spans, span["id"])
                if self.by_id[i]["name"] == name and self.by_id[i]["kind"] == kind]


def _m(value, unit, values=None, **extra):
    out = {"value": value, "unit": unit}
    if values is not None:
        q1, _, q3 = quartiles(values)
        out.update(q1=q1, q3=q3, n=len(values))
    out.update(extra)
    return out


def _files_since(root, since_ms):
    n = 0
    for d, _, names in os.walk(root):
        for f in names:
            if f.endswith(".parquet") and \
                    os.path.getmtime(os.path.join(d, f)) * 1000 >= since_ms:
                n += 1
    return n


def _prefix_sum(sp, p, prefix):
    """Wall time of pass `p`'s operations whose name starts with `prefix`."""
    return sum(o["s"] for o in sp.children(p, "op") if o["name"].startswith(prefix))


def summarize(raw, gen_s, input_bytes, cores, mismatches):
    sp = Spans(raw["spans"])
    lake = raw.get("lake")
    untraced = sp.of_kind("measured")
    traced = sp.of_kind("traced")
    all_ops = sp.of_kind("op")

    failed_runs = sum(e["count"] for e in raw["errors"].values())
    wrong = [n for n in mismatches if n not in raw["errors"]]
    attempted = len(all_ops)
    failed = failed_runs + len(wrong)

    op_lat = [o["s"] for p in untraced for o in sp.children(p, "op")]
    by_op = {}
    for p in untraced:
        for o in sp.children(p, "op"):
            by_op.setdefault(o["name"], []).append(o["s"])
    op_medians = [median(v) for v in by_op.values()]
    all_by_op = {}
    for o in all_ops:
        all_by_op.setdefault(o["name"], []).append(o["s"])
    walls = [p["s"] for p in untraced]
    cpu = [sp.total(p)["cpu_s"] for p in untraced]
    tail_p, tail_v = tail(op_lat)
    e2e = {
        "setup_s": _m(gen_s + raw["setup_in_jvm_s"], "s",
                      generate_s=gen_s, session_s=raw["session_s"]),
        "wall_s": _m(median(walls), "s", walls),
        "query_p50_s": _m(median(op_medians), "s", op_medians),
    }
    extra = {
        "cpu_s": _m(median(cpu), "s", cpu),
        "query_tail_s": _m(tail_v, "s", op_lat, percentile=tail_p),
        "fail_rate": _m(failed / attempted if attempted else 1.0, "ratio",
                        failed=failed, attempted=attempted),
    }
    if lake:
        refresh = [_prefix_sum(sp, p, "full.") for p in untraced]
        incr = [_prefix_sum(sp, p, "incremental.") for p in untraced]
        written = [sp.total(p)["written_bytes"] / input_bytes for p in untraced]
        extra.update(
            refresh_s=_m(median(refresh), "s", refresh),
            incremental_s=_m(median(incr), "s", incr),
            written_bytes_per_input_byte=_m(median(written), "ratio", written))

    layer = per_layer(sp, raw, untraced, traced, cores, input_bytes, lake)
    layer["queries.tail_s"] = extra["query_tail_s"]
    drift = [w / walls[0] - 1 for w in walls[1:]] if walls else []
    # planned fixed-count repartitions per query (traced passes only): 1 or
    # more where the engine's scan fan-out fired
    repartitions = {}
    for p in traced:
        for o in sp.children(p, "op"):
            if "repartitions" in o:
                repartitions[o["name"]] = o["repartitions"]
    return {
        "correct": not mismatches and failed_runs == 0,
        "attempted": attempted, "failed": failed,
        "mismatches": mismatches, "errors": raw["errors"],
        "end_to_end": e2e, "extra": extra, "per_layer": layer,
        "pass_walls_s": walls, "pass_drift": drift,
        "op_latencies_s": all_by_op,
        "measured_s": raw["measured_s"], "cores": cores,
        "input_bytes": input_bytes, "repartitions_by_op": repartitions,
    }


def per_layer(sp, raw, untraced, traced, cores, input_bytes, lake):
    """Per-layer metrics: medians over traced passes of per-pass totals."""
    passes = traced or untraced

    def per_pass(fn):
        return median([fn(p) for p in passes]) if passes else 0.0

    def layer_sum(p, name, key=None):
        spans = sp.under(p, name, "layer")
        if key is None:
            return sum(s["s"] for s in spans)
        return sum(sp.total(s)[key] for s in spans)

    exec_spans = (lambda p: sp.children(p, "op")) if lake else \
        (lambda p: sp.under(p, "exec", "layer"))

    def exec_sum(p, key=None):
        spans = exec_spans(p)
        if key is None:
            return sum(s["s"] for s in spans)
        return sum(sp.total(s)[key] for s in spans)

    def core_util(p):
        wall = exec_sum(p)
        return exec_sum(p, "task_s") / (wall * cores) if wall else 0.0

    loads = sp.of_kind("load")
    out = {
        "Tables.load_s": _m(median([s["s"] for s in loads]), "s"),
        "Tables.load_jobs": _m(median([sp.total(s)["jobs"] for s in loads]), "count"),
        "queries.builder_s": _m(per_pass(lambda p: layer_sum(p, "builder")), "s"),
        "queries.builder_jobs": _m(per_pass(lambda p: layer_sum(p, "builder", "jobs")), "count"),
        "queries.builder_tasks": _m(per_pass(lambda p: layer_sum(p, "builder", "tasks")), "count"),
        "queries.tail_s": None,  # the run's query_tail_s, set by summarize
        "plans.planning_s": _m(per_pass(lambda p: layer_sum(p, "planning")), "s"),
        "plans.repartition_exchanges": _m(per_pass(
            lambda p: sum(o.get("repartitions", 0) for o in sp.children(p, "op"))), "count"),
        "exec.s": _m(per_pass(exec_sum), "s"),
        "exec.jobs": _m(per_pass(lambda p: exec_sum(p, "jobs")), "count"),
        "exec.tasks": _m(per_pass(lambda p: exec_sum(p, "tasks")), "count"),
        "exec.cpu_s": _m(per_pass(lambda p: exec_sum(p, "cpu_s")), "s"),
        "exec.core_util": _m(per_pass(core_util), "ratio"),
        "exec.shuffle_write_bytes": _m(per_pass(lambda p: exec_sum(p, "shuffle_write_bytes")), "bytes"),
        "exec.input_bytes": _m(per_pass(lambda p: exec_sum(p, "input_bytes")), "bytes"),
        "exec.spill_bytes": _m(per_pass(lambda p: exec_sum(p, "spill_bytes")), "bytes"),
    }
    for op, stage in LAKE_STAGES.items():
        def pick(p, key=None, op=op):
            spans = [o for o in sp.children(p, "op") if o["name"] == op]
            return sum(o["s"] if key is None else sp.total(o)[key] for o in spans)
        out[f"Pipeline.{stage}_s"] = _m(per_pass(pick), "s")
        out[f"Pipeline.{stage}_jobs"] = _m(per_pass(lambda p: pick(p, "jobs")), "count")
        out[f"Pipeline.{stage}_tasks"] = _m(per_pass(lambda p: pick(p, "tasks")), "count")
        out[f"Pipeline.{stage}_cpu_s"] = _m(per_pass(lambda p: pick(p, "cpu_s")), "s")

    out["Pipeline.refresh_s"] = _m(per_pass(lambda p: _prefix_sum(sp, p, "full.")), "s")
    out["Pipeline.incremental_s"] = _m(
        per_pass(lambda p: _prefix_sum(sp, p, "incremental.")), "s")
    written = per_pass(lambda p: sp.total(p)["written_bytes"])
    out["Sinks.bytes_written"] = _m(written, "bytes")
    files = 0
    if lake:
        files = sum(_files_since(r, raw["last_pass_start_ms"])
                    for r in (lake["full"], lake["incremental"]))
    out["Sinks.files_written"] = _m(files, "count")
    out["Sinks.written_per_input_byte"] = _m(written / input_bytes, "ratio")
    out["cache.leaked_rdds"] = _m(per_pass(
        lambda p: sum(o.get("persisted_rdds", 0) for o in sp.children(p, "op"))), "count")
    out["trace.overhead_s"] = _m(
        (median([p["s"] for p in traced]) - median([p["s"] for p in untraced]))
        if traced and untraced else 0.0, "s")
    out["trace.unattributed_s"] = _m(per_pass(
        lambda p: sum(sp.self_s[o["id"]] for o in sp.children(p, "op"))), "s")
    return out


def trace_records(raw):
    """One record per operation of every pass: layer self times and the
    task counters of the op, plus the raw spans with their self times."""
    sp = Spans(raw["spans"])
    records = []
    for p in sp.of_kind("warm", "measured", "traced"):
        for o in sp.children(p, "op"):
            rec = {"pass": p["name"], "pass_kind": p["kind"], "op": o["name"],
                   "wall_s": o["s"], "leaked_rdds": o.get("persisted_rdds", 0),
                   "repartition_exchanges": o.get("repartitions"),
                   "unattributed_s": sp.self_s[o["id"]]}
            for layer in sp.children(o, "layer"):
                rec[f"{layer['name']}_s"] = sp.self_s[layer["id"]]
            rec.update(sp.total(o))
            records.append(rec)
    spans = [dict(s, self_s=sp.self_s[s["id"]]) for s in raw["spans"]]
    return {"operations": records, "spans": spans}


def report_lines(summary):
    """Human-readable lines: every metric by name with its unit."""
    lines = []
    for group in ("end_to_end", "extra", "per_layer"):
        for name, m in summary[group].items():
            detail = ""
            if "n" in m:
                detail = f"  (q1 {m['q1']:.4g}, q3 {m['q3']:.4g}, n {m['n']})"
            if "percentile" in m:
                detail += f"  p{m['percentile']:g}"
            lines.append(f"[perfbench] {group:10s} {name:32s} {m['value']:.6g} {m['unit']}{detail}")
    lines.append(f"[perfbench] pass walls (s): "
                 + ", ".join(f"{w:.3f}" for w in summary["pass_walls_s"]))
    if summary["repartitions_by_op"]:
        lines.append("[perfbench] planned fixed-count repartitions (scan fan-out): "
                     + ", ".join(f"{k} {v}" for k, v in
                                 sorted(summary["repartitions_by_op"].items())))
    for name, problem in sorted(summary["mismatches"].items()):
        lines.append(f"[perfbench] MISMATCH {name}: {problem}")
    for name, e in summary["errors"].items():
        lines.append(f"[perfbench] FAILED {name} x{e['count']}: {e['message']}")
    lines.append(f"[perfbench] correctness: {'OK' if summary['correct'] else 'FAILED'}"
                 f" ({summary['failed']} failed of {summary['attempted']} operations)")
    return lines
