"""Turns the harness's raw result (see Harness.scala) into the benchmark's
end-to-end and per-layer metrics. Names follow the engine's modules; the
README in this directory explains each one."""
import math

from benchlib import median, self_times

MTB_PHASES = ("statements", "dict_x", "dict_e", "filter_tokenize_encode",
              "relation_ids", "pools")
MTB_PHASE_FIELDS = (("wall_s", "s"), ("cpu_s", "s"), ("shuffle_write_mb", "MB"),
                    ("spill_mb", "MB"), ("jobs", "count"), ("cpu_ratio", "ratio"),
                    ("task_skew", "ratio"))

# Battery queries, grouped by the module of their main call.
BATTERY_MODULES = {
    "sql": ("q06_events_hourly",),
    "textnorm": ("q10_doc_normalize",),
    "dedup": ("q18_minhash_clusters", "q23_simhash_clusters"),
    "kgops": ("q30_mentions",),
    "multimodal": ("q60_media_meta",),
    "eval": ("q37_semeval_prf",),
    "streaming": ("q51_stream_sessions",),
    "fewrel": ("q52_fewrel_source",),
    "statements": ("q55_masking",),
    "kernel": ("q59_kernel_checkpoint",),
}
BATTERY_QUERIES = tuple(q for qs in BATTERY_MODULES.values() for q in qs)
BATTERY_SINGLES = {"q18": "q18_minhash_clusters", "q23": "q23_simhash_clusters",
                   "q51": "q51_stream_sessions"}

KG_LAYERS = (
    ("textnorm.busy_s", "s"), ("textnorm.bytes_out", "bytes"),
    ("annotate.busy_s", "s"), ("annotate.mentions", "count"),
    ("statements.busy_s", "s"), ("statements.count", "count"),
    ("tokenize.busy_s", "s"), ("tokenize.memo_hit_ratio", "ratio"),
    ("tokenize.dropped", "count"),
    ("kernel.busy_s", "s"), ("kernel.batches", "count"), ("kernel.pad_ratio", "ratio"),
    ("triples.sink_s", "s"), ("triples.sink_shuffle_mb", "MB"), ("triples.sink_files", "count"),
    ("kg.other_s", "s"), ("kg.task_skew", "ratio"), ("kg.cpu_util", "ratio"),
    ("kg.gc_s", "s"), ("kg.trace_overhead", "ratio"), ("kg.scaling_eff", "ratio"),
)


def per_layer_units():
    """Name -> unit of every per-layer metric, in report order."""
    units = dict(KG_LAYERS)
    for p in MTB_PHASES:
        for f, u in MTB_PHASE_FIELDS:
            units[f"mtb.{p}.{f}"] = u
    units["mtb.residual.wall_s"] = "s"
    units["mtb.cached_mb"] = "MB"
    units["mtb.trace_overhead"] = "ratio"
    units["mtb.scaling_eff"] = "ratio"
    for m in BATTERY_MODULES:
        for f, u in (("wall_s", "s"), ("build_s", "s"), ("jobs", "count"), ("shuffle_mb", "MB")):
            units[f"battery.{m}.{f}"] = u
    for q in BATTERY_SINGLES:
        units[f"battery.{q}.wall_s"] = "s"
        units[f"battery.{q}.jobs"] = "count"
    units["battery.trace_overhead"] = "ratio"
    units["battery.scaling_eff"] = "ratio"
    return units


def _ratio(a, b):
    return a / b if b else 0.0


def _mean(xs):
    return sum(xs) / len(xs)


def _skew(task_ms):
    """Slowest task over the median task of one stage."""
    if len(task_ms) < 2:
        return 1.0
    return _ratio(max(task_ms), median(task_ms))


def failures(raw):
    """(attempted, failed): every timed operation and every check."""
    attempted = len(raw["ops"]) + len(raw["checks"])
    failed = sum(not o["ok"] for o in raw["ops"]) + sum(not c["ok"] for c in raw["checks"])
    return attempted, failed


def end_to_end(raw):
    """The end-to-end metrics of an untraced run."""
    wide = [o for o in raw["ops"] if o["leg"] == "wide"]
    if raw["workload"] == "battery":
        # a failed query is charged the time it took
        items_per_s = len(wide) / sum(o["wall_s"] for o in wide)
        # every query weighs the same, however long it runs
        per_query = {}
        for o in wide:
            per_query.setdefault(o["query"], []).append(o["wall_s"])
        op_s = math.exp(_mean([math.log(median(v)) for v in per_query.values()]))
    else:
        items_per_s = median([o["items"] / o["wall_s"] for o in wide])
        op_s = median([o["wall_s"] for o in wide])
    return {
        "setup_s": (median(raw["setup_s"]), "s"),
        "items_per_s": (items_per_s, "1/s"),
        "op_s": (op_s, "s"),
        "peak_live_heap_mb": (max(raw["heap_mb"]), "MB"),
    }


def scaling_eff(raw, ops):
    """(t_local[1] / t_local[nproc]) / nproc for the same operations: the
    medians for kg_extract and mtb_build, per-query means summed over the
    queries both legs ran for battery."""
    if raw["workload"] != "battery":
        t_one = median([o["wall_s"] for o in ops if o["leg"] == "one"])
        t_wide = median([o["wall_s"] for o in ops if o["leg"] == "wide"])
    else:
        per_query = {}
        for o in ops:
            per_query.setdefault(o["query"], {}).setdefault(o["leg"], []).append(o["wall_s"])
        both = [v for v in per_query.values() if "wide" in v and "one" in v]
        t_one = sum(_mean(v["one"]) for v in both)
        t_wide = sum(_mean(v["wide"]) for v in both)
    return _ratio(t_one, t_wide) / raw["nproc"]


def _stages_by_tag(raw):
    out = {}
    for st in raw["stages"]:
        out.setdefault(st["tag"], []).append(st)
    return out


def _kg_layers(raw):
    nproc = raw["nproc"]
    stages = _stages_by_tag(raw)
    traced = [o for o in raw["ops"] if o.get("traced")]
    plain = [o for o in raw["ops"] if not o.get("traced")]
    plain_wide = [o for o in plain if o["leg"] == "wide"]
    rows = []
    for o in traced:
        c = o["counters"]
        sts = stages.get(o["tag"], [])
        maps = [s for s in sts if s["shuffle_write_bytes"] > 0 and s["shuffle_read_bytes"] == 0]
        sinks = [s for s in sts if s not in maps]
        run_s = sum(s["run_ms"] for s in maps) / 1e3
        write_s = sum(s["shuffle_write_time_ns"] for s in maps) / 1e9
        busy = {k: c[f"{k}_ns"] / 1e9 for k in ("textnorm", "annotate", "statements", "tokenize", "kernel")}
        wall_s = sum(s["wall_ms"] for s in maps) / 1e3
        rows.append({
            "textnorm.busy_s": busy["textnorm"], "textnorm.bytes_out": c["textnorm_bytes"],
            "annotate.busy_s": busy["annotate"], "annotate.mentions": c["mentions"],
            "statements.busy_s": busy["statements"], "statements.count": c["statements"],
            "tokenize.busy_s": busy["tokenize"],
            "tokenize.memo_hit_ratio": _ratio(c["memo_hits"], c["memo_lookups"]),
            "tokenize.dropped": c["dropped"],
            "kernel.busy_s": busy["kernel"], "kernel.batches": c["batches"],
            "kernel.pad_ratio": _ratio(c["real_tokens"], c["padded_tokens"]),
            "triples.sink_s": write_s + sum(s["run_ms"] for s in sinks) / 1e3,
            "triples.sink_shuffle_mb": sum(s["shuffle_write_bytes"] for s in maps) / 1e6,
            "triples.sink_files": o["sink_files"],
            "kg.other_s": run_s - sum(busy.values()) - write_s,
            "kg.task_skew": max([_skew(s["task_run_ms"]) for s in maps] or [1.0]),
            "kg.cpu_util": _ratio(sum(s["cpu_ns"] for s in maps) / 1e9, wall_s * nproc),
            "kg.gc_s": sum(s["gc_ms"] for s in sts) / 1e3,
        })
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    out["kg.trace_overhead"] = (median([o["wall_s"] for o in traced])
                                / median([o["wall_s"] for o in plain_wide]) - 1)
    out["kg.scaling_eff"] = scaling_eff(raw, plain)
    return out


def _mtb_layers(raw):
    stages = _stages_by_tag(raw)
    spans = raw["spans"]
    selfs = self_times(spans)
    traced = [o for o in raw["ops"] if o.get("traced")]
    plain = [o for o in raw["ops"] if not o.get("traced") and o["leg"] == "wide"]
    by_tag = {s.get("tag"): s for s in spans}

    def phase(op, p):
        sts = stages.get(f"{op['tag']}/{p}", [])
        span = by_tag.get(f"{op['tag']}/{p}")
        return {
            "wall_s": (span["end_ns"] - span["start_ns"]) / 1e9 if span else 0.0,
            "cpu_s": sum(s["cpu_ns"] for s in sts) / 1e9,
            "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in sts) / 1e6,
            "spill_mb": sum(s["spill_bytes"] for s in sts) / 1e6,
            "jobs": raw["jobs"].get(f"{op['tag']}/{p}", 0),
            "task_skew": max([_skew(s["task_run_ms"]) for s in sts] or [1.0]),
        }

    wide = [o for o in traced if o["leg"] == "wide"]
    one = [o for o in traced if o["leg"] == "one"]
    out = {}
    for p in MTB_PHASES:
        rows = [phase(o, p) for o in wide]
        for f in ("wall_s", "cpu_s", "shuffle_write_mb", "spill_mb", "jobs", "task_skew"):
            out[f"mtb.{p}.{f}"] = median([r[f] for r in rows])
        cpu_one = median([phase(o, p)["cpu_s"] for o in one]) if one else 0.0
        out[f"mtb.{p}.cpu_ratio"] = _ratio(out[f"mtb.{p}.cpu_s"], cpu_one)
    roots = [s for s in spans if s["name"] == "mtb.build" and s.get("leg") == "wide"]
    out["mtb.residual.wall_s"] = median([selfs[s["id"]] / 1e9 for s in roots])
    out["mtb.cached_mb"] = median([o["cached_mb"] for o in wide])
    out["mtb.trace_overhead"] = (median([o["wall_s"] for o in wide])
                                 / median([o["wall_s"] for o in plain]) - 1)
    out["mtb.scaling_eff"] = scaling_eff(raw, traced)
    return out


def _battery_layers(raw):
    stages = _stages_by_tag(raw)
    spans = raw["spans"]
    traced = [o for o in raw["ops"] if o.get("traced")]
    plain = [o for o in raw["ops"] if not o.get("traced")]
    plain_wide = [o for o in plain if o["leg"] == "wide"]
    roots = {s["tag"]: s for s in spans if s["name"].startswith("battery.")}
    builds = {s["parent"]: s for s in spans if s["name"] == "build"}
    per_query = {}
    for o in traced:
        span = roots[o["tag"]]
        b = builds.get(span["id"])
        row = per_query.setdefault(o["query"], [])
        row.append({
            "wall_s": (span["end_ns"] - span["start_ns"]) / 1e9,
            "build_s": (b["end_ns"] - b["start_ns"]) / 1e9 if b else 0.0,
            "jobs": raw["jobs"].get(o["tag"], 0),
            "shuffle_mb": sum(s["shuffle_write_bytes"] for s in stages.get(o["tag"], [])) / 1e6,
        })
    q = {name: {f: median([r[f] for r in rows]) for f in rows[0]} for name, rows in per_query.items()}
    out = {}
    for m, names in BATTERY_MODULES.items():
        for f in ("wall_s", "build_s", "jobs", "shuffle_mb"):
            out[f"battery.{m}.{f}"] = sum(q[n][f] for n in names if n in q)
    for short, name in BATTERY_SINGLES.items():
        out[f"battery.{short}.wall_s"] = q[name]["wall_s"] if name in q else 0.0
        out[f"battery.{short}.jobs"] = q[name]["jobs"] if name in q else 0
    passes = lambda ops: median([sum(o["wall_s"] for o in ops if o["i"] == i)
                                 for i in sorted({o["i"] for o in ops})])
    out["battery.trace_overhead"] = passes(traced) / passes(plain_wide) - 1
    out["battery.scaling_eff"] = scaling_eff(raw, plain)
    return out


def per_layer(raws):
    """Every per-layer metric from the raw results of one traced run (the
    traced kg_extract run has a second one, from its mtb_build leg);
    layers the run does not reach read 0."""
    units = per_layer_units()
    values = {name: 0.0 for name in units}
    for raw in raws:
        values.update({"kg_extract": _kg_layers, "mtb_build": _mtb_layers,
                       "battery": _battery_layers}[raw["workload"]](raw))
    return {name: (values[name], units[name]) for name in units}
