"""Pure-Python rollup of a Spark event log into per-layer metrics.

A traced run sets the Spark job group to the id of the innermost open
span, so every job, stage and task in the event log — and every SQL
execution, through its ``jobGroupId`` — maps back to one span.  The
span's top-level operation (``join.deep``, ``ops.tile_pyramid`` ...)
names its layer (the part before the first dot).

Per-layer metrics are computed per round (a timed pass, or a setup
repetition for layers that only run in setup) and reported as the
median across rounds.
"""

from __future__ import annotations

import json
from collections import defaultdict

from harness import median

GENERIC_LAYERS = ("pages", "geo", "join", "ops", "skew", "sample", "build", "storage", "pipeline")
NODE_LAYERS = ("join", "build", "ops")
NODE_TYPES = ("MapInArrow", "FlatMapGroupsInPandas", "BroadcastHashJoin", "Exchange", "InMemoryTableScan")
ROUND_SPANS = ("setup", "refs", "pass")
PIPELINE_STAGES = ("pages", "pages_valid", "region_map", "assigned", "region_counts", "tile_rollup")
CORPUS_STAGES = {
    "text.doc_features_s": "doc_features",
    "dedup.signatures_s": "signatures",
    "dedup.dup_pairs_s": "dup_pairs",
    "dedup.dup_clusters_s": "dup_clusters",
    "pipeline.keepers_s": "keepers",
    "pipeline.corpus_stats_s": "corpus_stats",
}


class EventLog:
    """The parts of one application's event log the rollup needs."""

    def __init__(self, path: str):
        self.job_group: dict[int, str] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.stage_retries: dict[int, int] = defaultdict(int)
        self.exec_group: dict[int, str] = {}
        self.exec_plan: dict[int, dict] = {}
        self.accum_name: dict[int, tuple[str, str]] = {}
        self.driver_accums: list[tuple[int, int, int]] = []  # (exec, id, value)
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan(self, exec_id: int, plan: dict) -> None:
        self.exec_plan[exec_id] = plan
        stack = [plan]
        while stack:
            n = stack.pop()
            for m in n.get("metrics", []):
                self.accum_name[m["accumulatorId"]] = (n["nodeName"], m["name"])
            stack.extend(n.get("children", []))

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            self.job_group[e["Job ID"]] = group
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, e["Job ID"])
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage Attempt ID"] > 0:
                self.stage_retries[info["Stage ID"]] += 1
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            self.tasks[e["Stage ID"]].append({
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                "spill_b": m.get("Disk Bytes Spilled", 0),
                "read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "write_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "out_b": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                "retry": int(info["Failed"] or info["Killed"] or info["Attempt"] > 0),
                "accums": [(a["ID"], a.get("Update")) for a in info.get("Accumulables", [])
                           if a.get("Metadata") == "sql"],
            })
        elif ev.endswith("SQLExecutionStart"):
            self.exec_group[e["executionId"]] = e.get("jobGroupId")
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif ev.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in e["sqlPlanMetrics"]:
                self.accum_name.setdefault(m["accumulatorId"], ("", m["name"]))
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in e["accumUpdates"]:
                self.driver_accums.append((e["executionId"], aid, val))


def count_nodes(plan: dict, seen_caches: set) -> dict[str, int]:
    """Executed physical nodes of one plan.  A cached relation's own plan
    (under ``InMemoryTableScan``) counts in the first execution that
    reads it, which is the one that materializes it; a cache is told
    apart by its plan's metric ids, fresh for every ``persist()``."""
    out: dict[str, int] = defaultdict(int)
    stack = [plan]
    while stack:
        n = stack.pop()
        if n["nodeName"] in NODE_TYPES:
            out[n["nodeName"]] += 1
        children = n.get("children", [])
        if n["nodeName"] == "InMemoryTableScan":
            key = _first_metric_id(children)
            if key in seen_caches:
                continue
            seen_caches.add(key)
        stack.extend(children)
    return out


def _first_metric_id(nodes: list) -> "int | None":
    stack = list(nodes)
    while stack:
        n = stack.pop()
        if n.get("metrics"):
            return n["metrics"][0]["accumulatorId"]
        stack.extend(n.get("children", []))
    return None


class Rollup:
    """Attribute event-log work to spans, then to (round, op) and
    (round, layer) buckets."""

    def __init__(self, log: EventLog, spans: list):
        self.log = log
        self.by_id = {s.sid: s for s in spans}
        # per (round, key) accumulators; key is an op name or a layer
        self.acc: dict[tuple[str, str], dict] = defaultdict(lambda: defaultdict(float))
        self.stages: dict[tuple[str, str], list[list[dict]]] = defaultdict(list)
        for stage, tasks in log.tasks.items():
            where = self._where(log.job_group.get(log.stage_job.get(stage)))
            if where is None:
                continue
            for key in where[1:]:
                b = self.acc[(where[0], key)]
                for t in tasks:
                    b["busy_s"] += t["run_ms"] / 1e3
                    b["gc_s"] += t["gc_ms"] / 1e3
                    b["fetch_wait_s"] += t["fetch_wait_ms"] / 1e3
                    b["spill_mb"] += t["spill_b"] / 1e6
                    b["shuffle_mb"] += t["write_b"] / 1e6
                    b["written_mb"] += t["out_b"] / 1e6
                    b["retries"] += t["retry"]
                    for aid, upd in t["accums"]:
                        self._sql(b, aid, upd)
                b["retries"] += log.stage_retries.get(stage, 0)
                self.stages[(where[0], key)].append(tasks)
        for job, group in log.job_group.items():
            where = self._where(group)
            if where is None:
                continue
            for key in where[1:]:
                self.acc[(where[0], key)]["jobs"] += 1
            if group in self.by_id and self.by_id[group].name.endswith(".call"):
                self.acc[(where[0], where[2])]["driver_jobs"] += 1
        seen_caches: set = set()
        for ex, plan in log.exec_plan.items():  # in execution order
            nodes = count_nodes(plan, seen_caches)
            where = self._where(log.exec_group.get(ex))
            if where is None:
                continue
            for typ, c in nodes.items():
                for key in where[1:]:
                    self.acc[(where[0], key)]["nodes." + typ] += c
        for ex, aid, val in log.driver_accums:
            where = self._where(log.exec_group.get(ex))
            if where is not None:
                for key in where[1:]:
                    self._sql(self.acc[(where[0], key)], aid, val)

    def _sql(self, b: dict, aid: int, upd) -> None:
        node, name = self.log.accum_name.get(aid, ("", ""))
        try:
            v = float(upd)
        except (TypeError, ValueError):
            return
        if name == "data sent to Python workers":
            b["python_mb"] += v / 1e6
        elif node == "BroadcastExchange" and name == "data size":
            b["broadcast_mb"] += v / 1e6
        elif node == "BroadcastExchange" and name == "number of output rows":
            b["broadcast_rows"] += v

    def _where(self, sid: "str | None") -> "tuple[str, str, str] | None":
        """(round, op, layer) of the span a job group names."""
        s = self.by_id.get(sid)
        if s is None:
            return None
        while s.parent is not None and self.by_id[s.parent].name not in ROUND_SPANS:
            s = self.by_id[s.parent]
        return s.round, s.name, s.name.split(".")[0]

    def value(self, rounds: list[str], key: str, metric: str) -> float:
        return median([self.acc[(r, key)][metric] for r in rounds if (r, key) in self.acc])

    def task_skew(self, rounds: list[str], key: str, field: str = "run_ms") -> float:
        """max/median over the tasks of the stage that read the most
        shuffle bytes of ``field`` (task run time, or ``read_b``), per
        round; median across rounds."""
        out = []
        for r in rounds:
            stages = [t for t in self.stages.get((r, key), []) if sum(x["read_b"] for x in t) > 0]
            if not stages:
                continue
            widest = max(stages, key=lambda t: sum(x["read_b"] for x in t))
            vals = [x[field] for x in widest]
            out.append(max(vals) / max(median(vals), 1.0))
        return median(out)


def per_layer(names: list[str], ctx, event_file: str, timed: list[str], setup: list[str],
              cores: int) -> dict[str, float]:
    """Every per-layer metric in ``names``; layers a workload does not
    exercise report 0."""
    ru = Rollup(EventLog(event_file), ctx.spans)
    dur = lambda name, rounds=timed: median(ctx.durations(name, rounds))  # noqa: E731
    out: dict[str, float] = {n: 0.0 for n in names}

    layer_rounds = {}
    for layer in GENERIC_LAYERS:
        layer_rounds[layer] = timed if any((r, layer) in ru.acc for r in timed) else setup

    def layer_wall(rounds, layer):
        per = defaultdict(float)
        for s in ctx.spans:
            if s.round in rounds and s.parent is not None and ru.by_id[s.parent].name in ROUND_SPANS \
                    and s.name.split(".")[0] == layer:
                per[s.round] += s.dur
        return per

    for layer in GENERIC_LAYERS:
        rounds = layer_rounds[layer]
        for m in ("busy_s", "gc_s", "fetch_wait_s", "spill_mb", "retries"):
            out[f"{layer}.{m}"] = ru.value(rounds, layer, m)
        wall = layer_wall(rounds, layer)
        idle = [1.0 - ru.acc[(r, layer)]["busy_s"] / (w * cores) for r, w in wall.items() if w > 0]
        out[f"{layer}.idle_core_frac"] = median(idle)
    for layer in NODE_LAYERS:
        for typ in NODE_TYPES:
            out[f"{layer}.nodes.{typ}"] = ru.value(layer_rounds[layer], layer, "nodes." + typ)

    # plain span timings: "<span>_s"
    names_set = set(names)
    for s in {s.name for s in ctx.spans}:
        if s + "_s" in names_set:
            out[s + "_s"] = dur(s, setup if s == "pages.materialize" else timed)
    out["session.start_s"] = dur("session.start", ["init"])
    out["ops.region_counts_s"] = median([a + b for a, b in zip(
        ctx.durations("join.shallow", timed), ctx.durations("join.deep", timed))])
    out["join.plan_s"] = median([
        sum(s.dur for s in ctx.spans if s.round == r and s.name.startswith("join.") and s.name.endswith(".call"))
        for r in timed])
    out["join.driver_jobs"] = ru.value(timed, "join", "driver_jobs")
    for key in ("join", "build"):
        out[f"{key}.python_mb"] = ru.value(timed, key, "python_mb")
    out["join.broadcast_mb"] = ru.value(timed, "join", "broadcast_mb")
    out["ops.task_skew"] = ru.task_skew(timed, "ops")
    out["ops.tile_pyramid.shuffle_mb"] = ru.value(timed, "ops.tile_pyramid", "shuffle_mb")
    for op in ("skew.salted_agg", "skew.plain_agg"):
        out[op + ".task_skew"] = ru.task_skew(timed, op)
        out[op + ".read_skew"] = ru.task_skew(timed, op, "read_b")
    for op in ("geo.polyfill_hier", "sample.cap_per_tile"):
        out[op + ".jobs"] = ru.value(timed, op, "jobs")
    # candidates = the broadcast probe stencil (probe x lattice cell rows)
    cand = ru.value(timed, "geo.distance_join", "broadcast_rows")
    if cand and "pairs" in ctx.extra:
        out["geo.distance_join.pairs_per_candidate"] = ctx.extra["pairs"] / cand
    out["storage.written_mb"] = ru.value(timed, "storage.write_region", "written_mb")

    def manifests(key):
        lineage = ctx.extra.get(key, {})
        return [lineage[r] for r in timed if r in lineage]

    def wall(runs, stage):
        return median([run[stage]["wall_sec"] for run in runs if stage in run])

    runs = manifests("lineage")
    if runs:
        for st in PIPELINE_STAGES:
            out[f"checkpoint.{st}_s"] = wall(runs, st)
        written = median([sum(m["bytes"] for m in run.values()) for run in runs])
        out["checkpoint.written_mb"] = written / 1e6
        out["checkpoint.write_amp"] = written / max(1, ctx.extra.get("docs_bytes", 1))
        out["checkpoint.resume_s"] = dur("pipeline.resume")
    runs = manifests("corpus_lineage")
    if runs:
        for name, st in CORPUS_STAGES.items():
            out[name] = wall(runs, st)
        out["dedup.dup_pairs.rows"] = median([run["dup_pairs"]["rows"] for run in runs])
        rss = ctx.extra.get("rss_delta", {})
        out["dedup.dup_clusters.rss_delta_mb"] = median([rss[r] for r in timed if r in rss])

    out["trace.pass_s"] = dur("pass")
    return {n: out[n] for n in names}
