"""Output checks and metrics for one run record.

`evaluate(workload, record, truth, traced)` returns
(result line dict, human-readable lines, per-layer record). The JVM side
(scala/graftbench/Main.scala) only measures and observes; every check
against the generator's ground truth and every statistic lives here.

End-to-end metrics have the same names on every workload (BENCHMARK.json);
the lines printed above the result give `op_p50_s` its workload name too,
e.g. `update_diff_p50_s` on osm_update, and print each workload's throughput
as an info line.
"""
import statistics

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_s": "s"}
LAYER_UNITS = {"trace.overhead_frac": "frac", "spark.jobs_per_op": "count",
               "spark.tasks_per_op": "count", "spark.job_busy_s_per_op": "s",
               "spark.driver_gap_s_per_op": "s", "spark.slot_util": "frac",
               "spark.cpu_s_per_op": "s", "spark.gc_s_per_op": "s",
               "spark.shuffle_write_mb_per_op": "MB", "spark.spill_mb_per_op": "MB",
               "spark.task_failures": "count", "io.wchar_mb_per_op": "MB"}
# workload name of the shared latency metric
ALIASES = {"pbf_etl": "etl_pass_p50_s", "osm_update": "update_diff_p50_s"}
# engine counter in the record -> (name stem, unit suffix) of its layer metric
ENGINE = {"jobs": ("jobs", ""), "tasks": ("tasks", ""), "job_busy_s": ("job_busy", "_s"),
          "driver_gap_s": ("driver_gap", "_s"), "cpu_s": ("cpu", "_s"), "gc_s": ("gc", "_s"),
          "shuffle_write_mb": ("shuffle_write", "_mb"), "spill_mb": ("spill", "_mb")}


def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def ok(op):
    return op.get("error", "") == ""


def engine_names(prefix, per):
    """Shared per-layer name -> this workload's name for the same value,
    e.g. spark.cpu_s_per_op -> upd.spark.cpu_per_diff_s."""
    names = {"spark.%s_per_op" % k: "%s.spark.%s%s%s" % (prefix, stem, per, unit)
             for k, (stem, unit) in ENGINE.items()}
    names.update({"io.wchar_mb_per_op": "%s.io.wchar%s_mb" % (prefix, per),
                  "spark.slot_util": prefix + ".spark.slot_util",
                  "spark.task_failures": prefix + ".spark.task_failures",
                  "trace.overhead_frac": "trace.overhead_frac"})
    return names


def engine_layers(prefix, per, counters):
    """Engine metrics over per-operation counter maps: the median of each
    counter, slot utilisation weighted by job-busy time, task failures
    summed."""
    names = engine_names(prefix, per)
    out = {names["spark.%s_per_op" % k]: med([c.get(k, 0.0) for c in counters]) for k in ENGINE}
    out[names["io.wchar_mb_per_op"]] = med([c.get("wchar_mb", 0.0) for c in counters])
    busy = sum(c.get("job_busy_s", 0.0) for c in counters)
    out[names["spark.slot_util"]] = (sum(c.get("slot_util", 0.0) * c.get("job_busy_s", 0.0)
                                         for c in counters) / busy) if busy else 0.0
    out[names["spark.task_failures"]] = sum(c.get("task_failures", 0.0) for c in counters)
    return out


def finish(workload, e2e, attempted, failed, checks, layers, names, traced, info=()):
    """The result line and the printed lines. Traced, the result carries the
    shared per-layer names, each read from the workload's own layer metric
    (`names`); the per-layer record keeps every value once, under the
    workload's name."""
    lines = ["check %-28s %s" % (k, "ok" if v else "FAILED") for k, v in checks]
    lines += ["%-22s %.6g %s" % x for x in info]
    if traced:
        metrics = {k: layers[names[k]] for k in LAYER_UNITS}
        units = LAYER_UNITS
        for k in sorted(layers):
            lines.append("layer %-40s %.6g" % (k, layers[k]))
    else:
        metrics = e2e
        units = E2E_UNITS
        for k, v in e2e.items():
            lines.append("%-22s %.6g %s%s" % (k, v, E2E_UNITS[k], "   (%s)" % ALIASES[workload]
                                               if k == "op_p50_s" else ""))
    result = {"correct": failed == 0 and all(v for _, v in checks),
              "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}}
    return result, lines


def overhead(rec):
    """Tracing cost as a share of the untraced run: the traced run's span
    bookkeeping (listener drains, /proc and store-directory reads) against
    its wall time without that bookkeeping."""
    t = rec["trace_overhead_s"]
    return t / (rec["run_s"] - t)


def span_seconds(rec, name):
    return [s["seconds"] for s in rec.get("spans", []) if s["name"] == name]


# ---- pbf_etl ----------------------------------------------------------------

def operator_mix(ops, expected):
    """The operator mix of a traced pbf_etl run: (attempted, failed,
    ops.<group>.* layers). A key fails on an error in either pass or a warm
    row count other than the expected one. cold_s and warm_s sum the
    group's key walls of each pass; construct/plan/exec, driver gap and
    slot utilisation are the warm pass's."""
    cold = [op for op in ops if op["phase"] == "ops_cold"]
    warm = [op for op in ops if op["phase"] == "ops_warm"]
    failed = sum(1 for op in cold if not ok(op))
    failed += sum(1 for op in warm if not (ok(op) and op.get("rows") == expected[op["key"]]))
    layers = {}
    for g in sorted({op["group"] for op in ops}):
        c = [op for op in cold if op["group"] == g]
        w = [op for op in warm if op["group"] == g]
        busy = sum(op["counters"].get("job_busy_s", 0.0) for op in w)
        layers.update({
            "ops.%s.cold_s" % g: sum(op["wall_s"] for op in c),
            "ops.%s.warm_s" % g: sum(op["wall_s"] for op in w),
            "ops.%s.construct_s" % g: sum(op["construct_s"] for op in w),
            "ops.%s.plan_s" % g: sum(op["plan_s"] for op in w),
            "ops.%s.exec_s" % g: sum(op["exec_s"] for op in w),
            "ops.%s.jobs_cold" % g: sum(op["counters"].get("jobs", 0.0) for op in c),
            "ops.%s.jobs_warm" % g: sum(op["counters"].get("jobs", 0.0) for op in w),
            "ops.%s.driver_gap_s" % g: sum(op["counters"].get("driver_gap_s", 0.0) for op in w),
            "ops.%s.slot_util" % g: (sum(op["counters"].get("slot_util", 0.0) *
                                         op["counters"].get("job_busy_s", 0.0) for op in w) / busy)
            if busy else 0.0})
    return len(cold) + len(warm), failed, layers


def pbf_etl(rec, truth, traced):
    mix = [op for op in rec["ops"] if op["phase"].startswith("ops_")]
    ops = [op for op in rec["ops"] if not op["phase"].startswith("ops_")]

    def good(op):
        return (ok(op) and op.get("partitions") == truth["partitions"]
                and op.get("geo_missing", 1) == 0 and op.get("files", 0) > 0)

    c = rec.get("countries", {})
    countries_ok = (c.get("hits") == truth["country_hits"] and c.get("rows") == truth["country_rows"])
    attempted = len(ops) + (1 if traced else 0)
    failed = sum(1 for op in ops if not good(op))
    staged = rec.get("staged", {})
    if traced and not good(staged):
        failed += 1
    if not countries_ok:
        failed += 1  # the last pass's output carries the wrong countries
    checks = [("partition_rows", all(op.get("partitions") == truth["partitions"] for op in ops)),
              ("geo_footers", all(op.get("geo_missing", 1) == 0 for op in ops)),
              ("country_join", countries_ok)]

    warm = [op["wall_s"] for op in ops if op["phase"] == "warm"]
    e2e = {"setup_s": rec["session_s"], "peak_rss_mb": rec["peak_rss_mb"],
           "op_p50_s": med(warm)}
    info = [("etl_versions_per_s", truth["versions"] / e2e["op_p50_s"], "1/s"),
            ("etl_pass_cold_s", ops[0]["wall_s"], "s"), ("etl_passes", len(ops), "count")]

    layers = {}
    if traced:
        mix_attempted, mix_failed, mix_layers = operator_mix(mix, truth["ops_rows"])
        attempted += mix_attempted
        failed += mix_failed
        checks.append(("operator_mix_rows", bool(mix) and mix_failed == 0))
        layers.update(mix_layers)
        sp = {n: med(span_seconds(rec, n)) for n in (
            "pbf.OsmPbf.index", "pbf.OsmPbf.decode", "pbf.Contributions.chain",
            "pbf.Contributions.geometry", "pbf.Contributions.countries",
            "pbf.GeoParquet.write", "pbf.GeoParquet.stamp")}
        stages = {
            "pbf.OsmPbf.index_s": sp["pbf.OsmPbf.index"],
            "pbf.OsmPbf.decode_s": sp["pbf.OsmPbf.decode"] - sp["pbf.OsmPbf.index"],
            "pbf.Contributions.chain_s": sp["pbf.Contributions.chain"],
            "pbf.Contributions.geometry_s": sp["pbf.Contributions.geometry"] - sp["pbf.Contributions.chain"],
            "pbf.Contributions.countries_s": sp["pbf.Contributions.countries"],
            "pbf.GeoParquet.write_s": sp["pbf.GeoParquet.write"] - sp["pbf.GeoParquet.stamp"],
            "pbf.GeoParquet.stamp_s": sp["pbf.GeoParquet.stamp"],
        }
        layers.update(stages)
        layers["pbf.OsmPbf.blobs"] = staged.get("blobs", 0)
        layers["pbf.OsmPbf.versions"] = staged.get("versions", 0)
        layers["pbf.GeoParquet.out_mb"] = staged.get("out_mb", 0.0)
        layers["pbf.unattributed_s"] = med(warm) - sum(stages.values())
        layers.update(engine_layers("pbf", "", [op["counters"] for op in ops
                                                if op["phase"] == "warm"]))
        layers["pbf.spark.shuffle_amp"] = layers["pbf.spark.shuffle_write_mb"] * 1e6 / truth["pbf_bytes"]
        layers["trace.overhead_frac"] = overhead(rec)
    return finish("pbf_etl", e2e, attempted, failed, checks, layers, engine_names("pbf", ""),
                  traced, info) + (layers,)


# ---- osm_update -------------------------------------------------------------

def osm_update(rec, truth, traced):
    steps = {s["seq"]: s for s in truth["steps"]}
    ops = [op for op in rec["ops"] if op["phase"] == "step"]
    parse = [op for op in rec["ops"] if op["phase"] == "parse"]
    last = max((op["seq"] for op in ops), default=0)
    st = rec["store"]
    want = steps.get(last, {})
    store_ok = st.get("types") == want.get("store")
    cs_ok = (st.get("changesets") == want.get("changesets")
             and st.get("closed_changesets") == want.get("closed_changesets"))
    seq_ok = [ok(op) and op.get("state") == op["seq"] and op.get("success") for op in ops]
    checks = [("state_and_success", all(seq_ok)),
              ("state_is_diff_count", bool(ops) and ops[-1].get("state") == len(ops)),
              ("store_latest_versions", store_ok),
              ("closed_changesets", cs_ok)]
    # a wrong final store means no step can be trusted
    failed = len(ops) if not (store_ok and cs_ok) else seq_ok.count(False)
    failed += sum(1 for op in parse if not ok(op))
    attempted = len(ops) + len(parse)

    walls = [op["wall_s"] for op in ops]
    changes = sum(steps[op["seq"]]["changes"] for op in ops)
    e2e = {"setup_s": rec["session_s"] + rec["init_s"], "peak_rss_mb": rec["peak_rss_mb"],
           "op_p50_s": med(walls)}
    info = [("update_changes_per_s", changes / sum(walls), "1/s"),
            ("update_steps", len(ops), "count"), ("update_changes", changes, "count")]

    layers = {}
    if traced:
        cnt = [op["counters"] for op in ops]
        layers.update(engine_layers("upd", "_per_diff", cnt))
        layers.update({
            "upd.OsmUpdater.init_s": rec["init_s"],
            "upd.ChangesetCatchup.step_s": med([op.get("changeset_step_s") for op in ops]),
            "upd.OsmUpdater.step_s": med([op.get("updater_step_s") for op in ops]),
            "upd.OsmXml.parse_s": med([op["wall_s"] for op in parse]),
            "upd.OsmUpdater.emitted_rows": med([op.get("emitted_rows", 0) for op in ops]),
            "upd.ChangesetStore.write_mb_per_diff": med([c.get("store_write_mb") for c in cnt]),
            "upd.ChangesetStore.files_per_diff": med([c.get("store_files") for c in cnt]),
            "upd.ChangesetStore.write_amp": med([op["counters"].get("store_write_mb", 0) * 1e6 /
                                                 op["diff_bytes"] for op in ops]),
            "upd.ChangesetStore.space_mb": st.get("space_mb", 0.0),
            "trace.overhead_frac": overhead(rec),
        })
    return finish("osm_update", e2e, attempted, failed, checks, layers,
                  engine_names("upd", "_per_diff"), traced, info) + (layers,)


def evaluate(workload, rec, truth, traced):
    return {"pbf_etl": pbf_etl, "osm_update": osm_update}[workload](rec, truth, traced)
