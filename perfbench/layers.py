"""Metric definitions and their computation from one run's records.

``END_TO_END`` and ``PER_LAYER`` are the metric names ``BENCHMARK.json``
lists, with units; every workload prints every name (a layer a workload
never reaches reads 0).

Conventions for per-layer names: ``<span>.ms`` is the mean SELF time
per call in ms (the call's duration minus its traced children) of each
function ``spans.TARGETS`` traces, so per traced op the self times of
its spans add up to the op's duration; ``spark.*_ms.<key>`` and
``queries.*`` are medians per traced op of that key; counts are per
traced op of the matching kind; ``op.*`` and ``headline.*`` come from
the untraced ops of the same traced run, so they carry no tracing cost.
"""

from __future__ import annotations

import math
import statistics
import time

from spans import TARGETS, self_times

END_TO_END = {
    "setup_s": "s",
    "read_geomean_ms": "ms",
    "ops_per_s": "1/s",
    "bytes_stored_per_user_byte": "ratio",
}

KV_KINDS = ["get", "range", "count", "insert", "mutate"]
FAMILIES = ["relational", "pipeline", "orderstats"]
READ_KEYS = ["get", "range", "count"] + FAMILIES
WRITE_KINDS = ["insert", "mutate"]
# Traced functions reported by mean self time per call: all but the
# dispatcher (split by op kind instead) and the set-up-only bulk load
# and layout mirror, which have metrics of their own.
SELF_TIMED = [n for n in TARGETS.values()
              if n not in ("sql.dispatch", "writer.bulk_load_csv",
                           "layout.prepare")]
# Per-op-type figures: in the report line of every run and, from the
# untraced ops, per-layer metrics of the traced run.
OP_TYPES = {f"op.{k}.p50_ms": "ms" for k in KV_KINDS}
OP_TYPES.update({f"op.{k}.p95_ms": "ms" for k in ("get", "range", "insert")})
OP_TYPES.update({"ingest.load_rows_per_s": "1/s", "headline.total_s": "s",
                 "headline.geomean_ms": "ms"})


def _layer_names() -> dict[str, str]:
    m = {f"sql.dispatch_ms.{k}": "ms" for k in KV_KINDS}
    m.update({"sql.route.pruned_share": "ratio",
              "sql.route.declined_share": "ratio",
              "catalog.get_table.calls_per_op": "count",
              "catalog.files_total": "count",
              "pruning.files_read_per_get": "count",
              "pruning.files_read_per_range": "count",
              "pruning.files_read_ratio": "ratio",
              "writer.bulk_load_csv.s": "s",
              "writer.auto_optimize.fired_per_write": "count",
              "writer.files_written_per_write": "count",
              "writer.bytes_written_per_user_byte": "ratio",
              "dml.files_rewritten_per_mutation": "count"})
    m.update({f"{n}.ms": "ms" for n in SELF_TIMED})
    for phase in ("analysis", "optimization", "planning", "exec"):
        m.update({f"spark.{phase}_ms.{k}": "ms" for k in READ_KEYS})
    for what in ("jobs", "stages", "tasks"):
        m.update({f"spark.{what}_per_op.{k}": "count"
                  for k in KV_KINDS + FAMILIES})
    m["session.floor_ms"] = "ms"
    for f in FAMILIES:
        m[f"queries.build_ms.{f}"] = "ms"
        m[f"queries.collect_ms.{f}"] = "ms"
    m.update({"layout.prepare_s": "s", "layout.files_per_table": "count"})
    m.update(OP_TYPES)
    m.update({"trace.overhead_ms": "ms", "trace.overhead_pct": "%"})
    return m


PER_LAYER = _layer_names()


def pct(values: list[float], p: int) -> float:
    """p-th percentile, linear interpolation between closest ranks."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _geomean(values: list[float]) -> float:
    return math.exp(sum(map(math.log, values)) / len(values))


def spark_op_stats(sc, group: str, df, wl) -> dict:
    """Catalyst phase times of the op's DataFrame and the jobs, stages
    and tasks Spark ran under the op's job group."""
    out = {"analysis_ms": 0.0, "optimization_ms": 0.0, "planning_ms": 0.0}
    if df is not None:
        phases = df._jdf.queryExecution().tracker().phases()
        for p in ("analysis", "optimization", "planning"):
            o = phases.get(p)
            if o.isDefined():
                out[f"{p}_ms"] = float(o.get().durationMs())
    out["exec_ms"] = max(0.0, wl.collect_s * 1000 - out["optimization_ms"]
                         - out["planning_ms"])
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in (st.getJobInfo(j).stageIds or [])]
    out.update(jobs=len(jobs), stages=len(stages),
               tasks=sum(si.numTasks for si in map(st.getStageInfo, stages)
                         if si is not None),
               build_ms=wl.build_s * 1000, collect_ms=wl.collect_s * 1000)
    return out


def count_hooks(tracer) -> None:
    """Counts taken at the layer boundary, as the work happens."""
    import os

    from heracles_spark import dml

    tracer.counts = {"fired": 0, "files": 0, "bytes": 0, "rewritten": []}

    def harvested(entries):
        if tracer.op < 0:
            return                  # set-up writes are not counted
        tracer.counts["files"] += len(entries)
        tracer.counts["bytes"] += sum(os.path.getsize(e["path"])
                                      for e in entries)

    def optimized(res):
        tracer.counts["fired"] += res is not None and tracer.op >= 0

    def mutated(_):
        if tracer.op >= 0:
            tracer.counts["rewritten"].append(
                dml.LAST_DML_STATS.get("files_rewritten", 0))

    tracer.on_result.update({
        "writer.harvest_file_index": harvested,
        "writer.maybe_auto_optimize": optimized,
        "dml.update_table": mutated, "dml.delete_from": mutated})


def floor_ms(spark) -> float:
    """Fresh trivial query, median of 5: the fixed per-statement cost."""
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).groupBy().count().collect()
        runs.append((time.perf_counter() - t0) * 1000)
    return statistics.median(runs)


class Run:
    def __init__(self, wl, records, setup_s):
        self.wl, self.records, self.setup_s = wl, records, setup_s

    @staticmethod
    def _type(r) -> str:
        """An op's type: its kind, or the query for the analytic
        workload."""
        return r["op"] if r["kind"] in FAMILIES else r["kind"]

    def latency_table(self, traced=None) -> dict[str, list]:
        """{op type: [p50 ms, p95 ms, samples]} over the correct ops
        (of one tracing state, if ``traced`` is given)."""
        by: dict[str, list[float]] = {}
        for r in self.records:
            if r["ok"] and (traced is None or r["traced"] == traced):
                by.setdefault(self._type(r), []).append(1000 * r["lat"])
        return {k: [statistics.median(v), pct(v, 95), len(v)]
                for k, v in by.items()}

    def end_to_end(self) -> dict:
        table = self.latency_table()
        reads = [p50 for k, (p50, _, _) in table.items()
                 if k not in WRITE_KINDS]
        # Closed-loop throughput of a pass at median latencies: ops per
        # pass over the sum of the median latency of each op's type.
        # Medians keep a one-off stall out of it, and the benchmark's
        # own checking between ops is not counted.
        types = [self._type(r) for r in self.records[:self.wl.cycle]]
        pass_ms = sum(table[t][0] for t in types if t in table)
        vals = {"setup_s": self.setup_s,
                "read_geomean_ms": _geomean(reads),
                "ops_per_s": 1000 * len(types) / pass_ms,
                "bytes_stored_per_user_byte": self.wl.stored_per_user_byte()}
        return {k: {"value": vals[k], "unit": u}
                for k, u in END_TO_END.items()}

    def op_type_values(self, table: dict) -> dict[str, float]:
        """The ``OP_TYPES`` figures of a ``latency_table``."""
        v = {f"op.{k}.p50_ms": table.get(k, [0.0])[0] for k in KV_KINDS}
        v.update({f"op.{k}.p95_ms": table.get(k, [0.0, 0.0])[1]
                  for k in ("get", "range", "insert")})
        load_s = getattr(self.wl, "load_s", None)
        v["ingest.load_rows_per_s"] = (
            len(self.wl.base) / statistics.median(load_s) if load_s else 0.0)
        heads = [p50 for k, (p50, _, _) in table.items() if k not in KV_KINDS]
        v["headline.total_s"] = sum(heads) / 1000
        v["headline.geomean_ms"] = _geomean(heads) if heads else 0.0
        return v

    def declines(self) -> dict:
        out: dict[str, int] = {}
        for r in self._traced_selects():
            reason = r["route"].get("reason")
            if r["route"].get("route") is None and reason:
                out[reason] = out.get(reason, 0) + 1
        return out

    def _traced_selects(self):
        return [r for r in self.records
                if r["traced"] and r["kind"] in ("get", "range", "count")]

    def per_layer(self, tracer, floor) -> dict:
        spans = tracer.spans
        traced = [r for r in self.records if r["traced"]]
        v = dict.fromkeys(PER_LAYER, 0.0)
        # Self time per op and per span name, over the measured passes;
        # set-up spans (op -1) only feed the bulk-load time.
        per_op: dict[int, dict[str, float]] = {}
        names: dict[str, list] = {}
        for (name, start, end, _, op), s in zip(spans, self_times(spans)):
            if op < 0:
                if name == "writer.bulk_load_csv":
                    v["writer.bulk_load_csv.s"] += end - start
                continue
            d = per_op.setdefault(op, {})
            d[name] = d.get(name, 0.0) + s
            rec = names.setdefault(name, [0, 0.0])
            rec[0] += 1
            rec[1] += s
        kind_of = {r["i"]: r["kind"] for r in traced}
        for k in KV_KINDS:
            v[f"sql.dispatch_ms.{k}"] = 1000 * _med(
                d.get("sql.dispatch", 0.0) for op, d in per_op.items()
                if kind_of.get(op) == k)
        for name in SELF_TIMED:
            calls, self_s = names.get(name, (0, 0.0))
            v[f"{name}.ms"] = 1000 * self_s / calls if calls else 0.0
        if traced:
            v["catalog.get_table.calls_per_op"] = names.get(
                "catalog.get_table", (0,))[0] / len(traced)
        v["catalog.files_total"] = self.wl.files_total()
        v["layout.files_per_table"] = self.wl.files_per_table()

        sel = self._traced_selects()
        routed = [r for r in sel if r["route"].get("route")]
        if sel:
            v["sql.route.pruned_share"] = len(routed) / len(sel)
            v["sql.route.declined_share"] = (sum(self.declines().values())
                                             / len(sel))
        for kind in ("get", "range"):
            v[f"pruning.files_read_per_{kind}"] = _med(
                r["route"].get("files_read", 0) for r in routed
                if r["kind"] == kind)
        total = sum(r["route"].get("files_total", 0) for r in routed)
        if total:
            v["pruning.files_read_ratio"] = sum(
                r["route"].get("files_read", 0) for r in routed) / total

        c = tracer.counts
        writes = [r for r in traced if r["kind"] in WRITE_KINDS]
        if writes:
            v["writer.auto_optimize.fired_per_write"] = c["fired"] / len(writes)
            v["writer.files_written_per_write"] = c["files"] / len(writes)
            v["writer.bytes_written_per_user_byte"] = c["bytes"] / sum(
                r["op"].user_bytes for r in writes)
        v["dml.files_rewritten_per_mutation"] = _med(c["rewritten"])

        for key in KV_KINDS + FAMILIES:
            recs = [r for r in traced if r["kind"] == key and r["ok"]]
            if not recs:
                continue
            for what in ("jobs", "stages", "tasks"):
                v[f"spark.{what}_per_op.{key}"] = _med(r[what] for r in recs)
            if key in READ_KEYS:
                for ph in ("analysis", "optimization", "planning", "exec"):
                    v[f"spark.{ph}_ms.{key}"] = _med(r[f"{ph}_ms"]
                                                     for r in recs)
            if key in FAMILIES:
                v[f"queries.build_ms.{key}"] = _med(r["build_ms"]
                                                    for r in recs)
                v[f"queries.collect_ms.{key}"] = _med(r["collect_ms"]
                                                      for r in recs)
        v["session.floor_ms"] = floor
        if hasattr(self.wl, "layout_s"):
            v["layout.prepare_s"] = _med(self.wl.layout_s)
        v.update(self.op_type_values(self.latency_table(False)))
        v["trace.overhead_ms"], v["trace.overhead_pct"] = self._overhead()
        return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}

    def _overhead(self) -> tuple[float, float]:
        """Traced minus untraced median latency per op type: the median
        difference (ms), and the summed difference as a share of the
        summed untraced medians (%)."""
        bare, traced = self.latency_table(False), self.latency_table(True)
        pairs = [(bare[k][0], traced[k][0]) for k in bare if k in traced]
        if not pairs:
            return 0.0, 0.0
        diff = [t - u for u, t in pairs]
        return (statistics.median(diff),
                100 * sum(diff) / sum(u for u, _ in pairs))
