"""Where the traced run puts its spans, and the per-layer metrics.

Every hook wraps a public function or method where the program resolves
it (``orchestrator.manager.evaluate_rules``, ``create_connector``, the
collaborator classes the orchestrator instantiates, and pyspark's
DataFrame collect methods), so the program itself is not changed.
"""

from __future__ import annotations

from pathlib import Path
from statistics import fmean
from typing import Any

from spans import OP_LAYER, Tracer, inclusive_by_name, layer_split
from workloads import OPS_KEYS, OpRecord

# (metric, unit) in report order; BENCHMARK.json lists the same names
PER_LAYER: list[tuple[str, str]] = [
    ("orchestrator.run_s", "s"),
    ("orchestrator.self_s", "s"),
    ("catalog.config_load_s", "s"),
    ("catalog.store_calls", "count"),
    ("catalog.store_s", "s"),
    ("catalog.rows_total", "count"),
    ("sources.extract_s", "s"),
    ("sources.write_s", "s"),
    ("sources.bytes_written", "bytes"),
    ("sources.files_written", "count"),
    ("operators.plan_s", "s"),
    ("quality.dq_s", "s"),
    ("quality.dq_jobs", "count"),
    ("monitoring.sla_s", "s"),
    ("monitoring.audit_s", "s"),
    ("monitoring.alerts_sent", "count"),
    ("lineage.record_s", "s"),
    *[(f"ops.{k}_s", "s") for k in OPS_KEYS],
    ("boundary.collects", "count"),
    ("boundary.collect_rows", "count"),
    ("boundary.collect_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.input_bytes", "bytes"),
    ("spark.input_bytes_per_source_byte", "ratio"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("spark.failed_tasks", "count"),
    ("spark.job_span_s", "s"),
    ("spark.driver_gap_s", "s"),
    ("memory.jvm_peak_rss_mb", "MB"),
    ("memory.py_peak_rss_mb", "MB"),
    ("setup.session_s", "s"),
    ("setup.register_s", "s"),
    ("setup.warmup_s", "s"),
    ("trace.overhead_ratio", "ratio"),
    ("trace.unattributed_s", "s"),
]

_SPARK_TOTALS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "output_bytes", "failed_tasks", "job_span_s",
)


def _count(key: str, amount=lambda args, out: 1):
    def on_result(t: Tracer, args: tuple, out: Any) -> None:
        if t.op is not None:
            t.counters[key] += amount(args, out)

    return on_result


def _rows_moved(args: tuple, out: Any) -> int:
    if isinstance(out, int):  # count(): one number crosses the boundary
        return 1
    return int(getattr(out, "num_rows", None) or len(out))


def _written(seen: dict[str, set[Path]]):
    """Count the data files a write added under its target path."""

    def on_result(t: Tracer, args: tuple, out: Any) -> None:
        path = Path(str(args[2]))
        files = {p for p in path.rglob("*") if p.is_file() and not p.name.startswith((".", "_"))}
        new = files - seen.get(str(path), set())
        seen[str(path)] = files
        if t.op is not None:
            t.counters["sources.files_written"] += len(new)
            t.counters["sources.bytes_written"] += sum(p.stat().st_size for p in new)

    return on_result


def install(tracer: Tracer) -> None:
    """Wrap each layer's public entry points; ``tracer.unwrap_all`` undoes it."""
    from pyspark.sql.classic.dataframe import DataFrame

    import metadata_etl_framework_spark.orchestrator.manager as manager
    from metadata_etl_framework_spark.catalog.store import ConfigLoader, MetadataStore
    from metadata_etl_framework_spark.monitoring.alerts import AlertManager
    from metadata_etl_framework_spark.monitoring.audit import AuditLogger
    from metadata_etl_framework_spark.monitoring.sla import SLAMonitor
    from metadata_etl_framework_spark.operators import TransformEngine
    from metadata_etl_framework_spark.sources.file_connector import FileConnector
    from metadata_etl_framework_spark.utils.lineage import LineageTracker

    w = tracer.wrap
    w(manager.OrchestratorManager, "execute_pipeline", "orchestrator", "orchestrator.run_s")
    w(ConfigLoader, "load_pipeline_metadata", "catalog", "catalog.config_load_s")
    for attr in ("execute", "query"):
        w(MetadataStore, attr, "catalog", "catalog.store_s", _count("catalog.store_calls"))

    def wrap_read(t: Tracer, args: tuple, connector: Any) -> None:
        t.wrap(connector, "read", "sources", "sources.extract_s")

    w(manager, "create_connector", "sources", "sources.extract_s", wrap_read)
    w(FileConnector, "write", "sources", "sources.write_s", _written({}))
    w(TransformEngine, "execute_transformations", "operators", "operators.plan_s")
    w(manager, "evaluate_rules", "quality", "quality.dq_s")
    w(SLAMonitor, "record_run", "monitoring", "monitoring.sla_s")
    w(AuditLogger, "log", "monitoring", "monitoring.audit_s")
    w(AlertManager, "send", "monitoring", "monitoring.alert_s",
      _count("monitoring.alerts_sent", lambda args, out: int(bool(out))))
    for attr in ("add_edge", "record_plan_column_lineage"):
        w(LineageTracker, attr, "lineage", "lineage.record_s")
    for attr in ("collect", "toPandas", "toArrow", "count"):
        w(DataFrame, attr, "boundary", "boundary.collect_s",
          _count("boundary.collect_rows", _rows_moved))


def metrics(
    tracer: Tracer,
    records: list[OpRecord],
    spark_ops: dict[str, dict[str, float]],
    extra: dict[str, float],
) -> dict[str, float]:
    """Per-operation means over the traced loop, plus ``extra`` values
    (setup, memory, catalog size, overhead) taken as they are."""
    n = max(len(records), 1)
    incl = inclusive_by_name(tracer.spans)
    split = layer_split(tracer.spans)
    out: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    for name in out:
        if name in incl:
            out[name] = incl[name] / n
    out["orchestrator.self_s"] = sum(s.get("orchestrator", 0.0) for s in split.values()) / n
    out["trace.unattributed_s"] = sum(s.get(OP_LAYER, 0.0) for s in split.values()) / n
    for key in ("catalog.store_calls", "sources.files_written", "sources.bytes_written",
                "monitoring.alerts_sent", "boundary.collect_rows"):
        out[key] = tracer.counters.get(key, 0.0) / n
    out["boundary.collects"] = sum(
        1 for s in tracer.spans
        if s.op is not None and s.name == "boundary.collect_s"
        and (s.parent is None or tracer.spans[s.parent].name != s.name)
    ) / n
    for key in OPS_KEYS:
        times = [r.seconds for r in records if r.name == key]
        out[f"ops.{key}_s"] = fmean(times) if times else 0.0
    for key in _SPARK_TOTALS:
        out[f"spark.{key}"] = sum(s.get(key, 0.0) for s in spark_ops.values()) / n
    out["quality.dq_jobs"] = sum(s.get("jobs.quality", 0.0) for s in spark_ops.values()) / n
    src = sum(r.source_bytes for r in records)
    out["spark.input_bytes_per_source_byte"] = (
        sum(s.get("input_bytes", 0.0) for s in spark_ops.values()) / src if src else 0.0
    )
    out["spark.driver_gap_s"] = sum(
        r.seconds - spark_ops.get(r.op_id, {}).get("job_span_s", 0.0) for r in records
    ) / n
    out.update(extra)
    return out
