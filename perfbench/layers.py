"""Per-layer metrics of the traced run.

:func:`install` patches the engine's public entry points with spans;
:func:`reduce` turns the spans and samples of the timed window into the
per-layer metrics, each a median over its samples. Metrics of a layer a
workload does not run read 0 with a count of 0. The end-to-end metric
each one should move is listed in README.md.
"""

from __future__ import annotations

import json
import math
import statistics

from spans import median_count, tree_files

WRITES = {
    "merge_upsert": "warehouse.merge_upsert",
    "insert": "warehouse.insert",
    "delete_where": "warehouse.delete_where",
    "auto_maintain": "warehouse.auto_maintain",
}
WRITE_SPANS = set(WRITES.values())

PER_LAYER = {
    "setup.session_s": "s",
    "setup.preload_s": "s",
    "setup.warmup_s": "s",
    "operators.build_s": "s",
    "spark.plan_s": "s",
    "spark.execute_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "sqlexec.execute_s": "s",
    "sqlexec.dml_s": "s",
    "warehouse.plan_files_s": "s",
    "warehouse.plan_files.kept_ratio": "ratio",
    "warehouse.read_s": "s",
    "warehouse.data_files_live": "count",
    "warehouse.delete_files_live": "count",
    "warehouse.merge_upsert_s": "s",
    "warehouse.insert_s": "s",
    "warehouse.delete_where_s": "s",
    "warehouse.auto_maintain_s": "s",
    "warehouse.files_written": "count",
    "warehouse.bytes_written": "B",
    "cdc.merge_batch_s": "s",
    "cdc.self_s": "s",
    "cdc.readback_s": "s",
    "streaming.trigger_overhead_s": "s",
    "cdc.rows_in": "count",
    "cdc.rows_quarantined": "count",
    "htap.commit_to_queryable_p50_s": "s",
    "htap.ingest_rows_per_s": "1/s",
    "htap.query_geomean_s": "s",
    "htap.write_geomean_s": "s",
    "htap.bytes_written_per_row": "B",
    "htap.storage_bytes_per_row": "B",
    "trace.ops_per_s": "1/s",
}


def _table_doc(wh, ns: str, table: str) -> dict:
    tdir = wh._table_dir(ns, table)
    return wh._manifest_doc(tdir, wh.current_version(ns, table))


def install(tracer) -> None:
    from sample_for_transactional_datalake_using_s3tables_spark.sources import sqlexec
    from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
        Warehouse,
    )
    from sample_for_transactional_datalake_using_s3tables_spark.streaming import cdc

    def live_files(args, kwargs):
        wh, ns, table = args[:3]
        doc = _table_doc(wh, ns, table)
        tracer.sample("warehouse.data_files_live", len(doc["files"]))
        tracer.sample("warehouse.delete_files_live", len(doc.get("deletes") or []))

    def kept_ratio(_state, args, kwargs, result):
        wh, ns, table = args[:3]
        version = args[3] if len(args) > 3 else kwargs.get("version")
        if isinstance(version, str) or kwargs.get("branch"):
            return
        tdir = wh._table_dir(ns, table)
        v = version if version is not None else wh.current_version(ns, table)
        total = len(wh._manifest_doc(tdir, v)["files"])
        if total:
            tracer.sample("warehouse.plan_files.kept_ratio", len(result[0]) / total)

    def files_before(args, kwargs):
        if tracer.in_stack(WRITE_SPANS):
            return None  # nested write: the outer one counts the files
        wh, ns, table = args[:3]
        return tree_files(wh._table_dir(ns, table))

    def files_after(before, args, kwargs, result):
        if before is None:
            return
        wh, ns, table = args[:3]
        after = tree_files(wh._table_dir(ns, table))
        new = [p for p in after if p not in before]
        tracer.sample("warehouse.files_written", len(new))
        tracer.sample("warehouse.bytes_written", sum(after[p] for p in new))

    tracer.wrap(Warehouse, "plan_files", "warehouse.plan_files", after=kept_ratio)
    tracer.wrap(Warehouse, "read", "warehouse.read", before=live_files)
    for meth, name in WRITES.items():
        tracer.wrap(Warehouse, meth, name, before=files_before, after=files_after)

    def sql_label(args, kwargs):
        head = args[1].strip().split(None, 1)[0].upper()
        if head in ("SELECT", "WITH"):
            return "sqlexec.execute"
        return "sqlexec.dml"

    tracer.wrap(sqlexec.WarehouseSQL, "execute", sql_label)
    tracer.wrap(cdc, "merge_cdc_batch", "cdc.merge_batch")


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def reduce(tracer, runner, wl, setup: dict) -> dict:
    durs = tracer.durations()
    net = {k: [d for d, _ in v] for k, v in durs.items()}
    own = {k: [s for _, s in v] for k, v in durs.items()}
    vals: dict[str, tuple[float, int]] = {}
    for k, v in setup.items():
        vals[k] = (v, 1)
    for name in ("operators.build", "spark.plan", "spark.execute",
                 "sqlexec.execute", "sqlexec.dml",
                 "warehouse.plan_files", "warehouse.read",
                 "warehouse.insert", "warehouse.delete_where",
                 "warehouse.auto_maintain",
                 "cdc.merge_batch", "cdc.readback"):
        vals[f"{name}_s"] = median_count(net.get(name, []))
    # merge_upsert and the CDC batch are reported as self time
    vals["warehouse.merge_upsert_s"] = median_count(own.get("warehouse.merge_upsert", []))
    vals["cdc.self_s"] = median_count(own.get("cdc.merge_batch", []))

    ops = [sp for sp in tracer.spans
           if sp["t1"] is not None and sp["op"] == sp["id"]]
    headline = not wl.write_kinds
    if headline:
        for key in ("jobs", "stages", "tasks"):
            vals[f"spark.{key}_per_op"] = median_count(
                [sp[key] for sp in ops if key in sp])

    # trigger overhead: CDC op wall minus its batch spans and read-back
    by_op: dict[int, float] = {}
    for sp in tracer.spans:
        if sp["t1"] is not None and sp["name"] in ("cdc.merge_batch", "cdc.readback"):
            by_op[sp["op"]] = by_op.get(sp["op"], 0.0) + sp["t1"] - sp["t0"]
    vals["streaming.trigger_overhead_s"] = median_count([
        sp["t1"] - sp["t0"] - by_op.get(sp["id"], 0.0)
        for sp in ops if sp["name"] == "op.cdc_batch"
    ])

    samples = {**tracer.samples}
    for k, v in runner.samples.items():
        samples.setdefault(k, []).extend(v)
    for name in ("warehouse.plan_files.kept_ratio",
                 "warehouse.data_files_live", "warehouse.delete_files_live",
                 "warehouse.files_written", "warehouse.bytes_written",
                 "cdc.rows_in", "cdc.rows_quarantined"):
        vals[name] = median_count(samples.get(name, []))

    walls = runner.walls
    if not headline:
        vals["htap.commit_to_queryable_p50_s"] = median_count(samples.get("commit_to_queryable_s", []))
        vals["htap.ingest_rows_per_s"] = median_count(samples.get("rows_per_op_s", []))
        for name, kinds in (("query", wl.query_kinds), ("write", wl.write_kinds)):
            meds = [statistics.median(walls[k]) for k in kinds if walls.get(k)]
            vals[f"htap.{name}_geomean_s"] = (_geomean(meds), len(meds))
        written = sum(samples.get("warehouse.bytes_written", []))
        vals["htap.bytes_written_per_row"] = (written / max(wl.records, 1), wl.records)
        st = wl.storage()
        vals["htap.storage_bytes_per_row"] = (st["bytes"] / max(st["rows"], 1), st["rows"])
    n_ok = sum(len(v) for v in walls.values())
    vals["trace.ops_per_s"] = (n_ok / runner.measured, n_ok)

    print("# per-layer (median, count): " + json.dumps(
        {k: [round(v, 6), n] for k, (v, n) in sorted(vals.items())}))
    return {k: {"value": vals.get(k, (0.0, 0))[0], "unit": u}
            for k, u in PER_LAYER.items()}
