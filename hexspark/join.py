"""Containment joins: the engine's lookup operators.

The reference answers one probe at a time by pointer descent
(/root/reference/src/node.rs:83-111).  Here a *column* of probes joins
against a broadcast compacted region table.  Semantics preserved exactly:

* **ancestor hit** — a probe is covered iff some stored leaf is its
  ancestor-or-self; ``get`` returns the *stored* (possibly coarser)
  cell plus its value (/root/reference/src/hex_tree_map.rs:167-190).
* **coarse probe miss** — a probe coarser than every stored leaf under
  it is NOT contained (/root/reference/src/node.rs:93-96).
* **descendants** — the stored leaf covering the probe, or all stored
  leaves under it, in ascending ``lo`` order == reference DFS order
  (/root/reference/src/hex_tree_map.rs:244-261,
  /root/reference/src/disktree/mod.rs:226-230).

The nearest-ancestor lookup has two physical forms, both plain
broadcast hash joins that run entirely in the JVM (no Python worker on
the probe side):

1. :func:`get_chained` — one broadcast equi-join per resolution the
   region stores, on ``to_parent(probe, r)``, results coalesced.  No
   row blowup, naturally left-joinable.  Serves every left lookup and
   inner lookups on maps of at most ``MAX_CHAINED_RES`` levels.
2. :func:`get_explode` — ``stack`` each probe into its ancestors at
   the region's resolutions and do a single broadcast equi-join on the
   stored cell.  Inner-only; serves inner lookups on deeper maps, where
   one join over a k× row blowup beats k chained joins.

:func:`get_auto` picks between them and :func:`contains` is a left
lookup reduced to a boolean.  Invalid probes (reserved bit set, mode
!= 1, base >= 122) never match: ``to_parent`` keeps those bits, so no
ancestor of an invalid probe equals a valid stored cell.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cells as cx

# Inner lookups on maps with more resolution levels than this use the
# explode form; fewer levels (and every left lookup) use chained joins.
MAX_CHAINED_RES = 6


_RES_SET_MEMO: dict[tuple, list[int]] = {}
_RES_SET_MEMO_CAP = 512


def _plan_fingerprint(df: DataFrame):
    """Fingerprint stable across *rebuilt* DataFrame objects over the
    same source (two ``spark.read.parquet(p)`` calls canonicalize
    identically), so the res-set memo survives per-round plan rebuilds.

    The semantic hash alone is NOT enough: a file relation hashes by
    root path, so overwriting the parquet at the same path would hit a
    stale memo.  Combining in ``inputFiles()`` (the concrete part-file
    names — every Spark write emits fresh UUID names) invalidates on
    overwrite/append.  None when the backing JVM API is unavailable
    (e.g. Spark Connect) — callers then skip the process-wide memo."""
    try:
        sem = df._jdf.queryExecution().analyzed().semanticHash()
        files = df.inputFiles()
    except Exception:
        return None
    return (sem, hash(tuple(sorted(files))))


def region_res_set(region: DataFrame, region_col: str = "cell") -> list[int]:
    """Distinct leaf resolutions in a region table (tiny driver fetch).

    Memoized twice: on the DataFrame object (same-object lookups are
    free), and process-wide by the analyzed plan's semantic hash — so
    callers that rebuild the plan per query (the bench harness does, by
    design) still pay the tiny driver job only once per distinct region
    relation."""
    memo = getattr(region, "_hexspark_res_set", None)
    if isinstance(memo, dict) and region_col in memo:
        return memo[region_col]
    fp = _plan_fingerprint(region)
    key = (fp, region_col)
    if fp is not None and key in _RES_SET_MEMO:
        rs = _RES_SET_MEMO[key]
    else:
        rows = region.select(cx.res(region_col).alias("r")).distinct().collect()
        rs = sorted(int(r["r"]) for r in rows)
        if fp is not None:
            if len(_RES_SET_MEMO) >= _RES_SET_MEMO_CAP:
                _RES_SET_MEMO.clear()
            _RES_SET_MEMO[key] = rs
    try:
        if not isinstance(memo, dict):
            memo = {}
            region._hexspark_res_set = memo
        memo[region_col] = rs
    except AttributeError:  # slotted/frozen DataFrame impls: skip memo
        pass
    return rs


def get_explode(
    probes: DataFrame,
    region: DataFrame,
    probe_col: str = "cell",
    region_col: str = "cell",
    how: str = "inner",
    res_list: Optional[list[int]] = None,
) -> DataFrame:
    """Nearest-ancestor value lookup via explode + broadcast hash join —
    fully JVM-side (whole-stage codegen end to end).

    Output: probe columns + ``stored_cell`` + the region's value
    columns.  Compacted leaves are pairwise non-related, so at most one
    ancestor matches — no dedupe needed (asserted by tests).  The
    ancestor rows are generated with ``stack`` over pre-projected
    ``to_parent`` columns, NOT ``explode(array(...))``: the array form
    allocates a fresh array per probe row, which churns the allocator
    and stops scaling past ~8 cores (measured 5.3 s vs 0.8 s at 20M
    probes / 32 cores for the two generators).  ``res_list`` defaults
    to the region's ACTUAL resolution set (memoized driver fetch, same
    as ``get_auto``) — ancestors at resolutions the region does not
    store can never match, so the output is identical and the row
    blowup drops from 16x to the compaction depth (typically 3-4x).

    Only ``how='inner'`` is supported — a left lookup over an exploded
    probe would need a probe-wide re-collapse shuffle; use
    :func:`get_chained` (naturally left) when unmatched rows matter.
    """
    if how != "inner":
        raise NotImplementedError("explode form is inner-only; use get_chained")
    rs = res_list if res_list is not None else region_res_set(region, region_col)
    if not rs:
        rs = [0]  # empty region: the join below matches nothing anyway
    region_cols = [c for c in region.columns if c != region_col]
    r = region.select(
        F.col(region_col).alias("__a"),
        F.col(region_col).alias("stored_cell"),
        *region_cols,
    )
    probe_cols = probes.columns
    anc = probes.select(
        "*",
        *[
            cx.to_parent(probe_col, rr).alias(f"__anc{i}")
            for i, rr in enumerate(sorted(rs))
        ],
    ).select(
        *probe_cols,
        F.expr(
            "stack({n}, {cols}) as __a".format(
                n=len(rs), cols=", ".join(f"__anc{i}" for i in range(len(rs)))
            )
        ),
    )
    return anc.join(F.broadcast(r), on="__a", how="inner").drop("__a")


def get_chained(
    probes: DataFrame,
    region: DataFrame,
    probe_col: str = "cell",
    region_col: str = "cell",
    how: str = "inner",
    res_list: Optional[list[int]] = None,
) -> DataFrame:
    """Nearest-ancestor lookup as a chain of plain broadcast hash joins —
    one per resolution present in the region table, results coalesced.

    No row blowup, no per-row array allocation (explode+array churns
    the allocator and stops scaling past ~8 cores), naturally supports
    left joins.  Compacted leaves are pairwise non-related so at most
    one of the chained joins matches any probe."""
    if how not in ("inner", "left"):
        raise ValueError(f"get_chained: how must be 'inner' or 'left', got {how!r}")
    rs = res_list if res_list is not None else region_res_set(region, region_col)
    region_cols = [c for c in region.columns if c != region_col]
    out = probes
    for i, r in enumerate(rs):
        reg_r = region.filter(cx.res(region_col) == r).select(
            F.col(region_col).alias(f"__c{i}"),
            *[F.col(c).alias(f"__v{i}_{c}") for c in region_cols],
        )
        out = out.join(
            F.broadcast(reg_r),
            cx.to_parent(F.col(probe_col), r) == F.col(f"__c{i}"),
            "left",
        )
    stored = F.coalesce(*[F.col(f"__c{i}") for i in range(len(rs))]) if rs else F.lit(None).cast("long")
    out = out.withColumn("stored_cell", stored)
    for c in region_cols:
        # empty region table: typed NULLs (F.coalesce() with zero args
        # is an analysis error)
        v = (
            F.coalesce(*[F.col(f"__v{i}_{c}") for i in range(len(rs))])
            if rs
            else F.lit(None).cast(region.schema[c].dataType)
        )
        out = out.withColumn(c, v)
    out = out.drop(*[f"__c{i}" for i in range(len(rs))],
                   *[f"__v{i}_{c}" for i in range(len(rs)) for c in region_cols])
    if how == "inner":
        out = out.filter(F.col("stored_cell").isNotNull())
    return out


def get_auto(
    probes: DataFrame,
    region: DataFrame,
    probe_col: str = "cell",
    region_col: str = "cell",
    how: str = "inner",
) -> DataFrame:
    """Physical-form chooser for the nearest-ancestor lookup.

    Inner lookups on a region spanning more than ``MAX_CHAINED_RES``
    resolutions use the explode form; everything else (shallow maps,
    every left lookup) uses chained joins.  Measured on a 4-core box at
    local[4], ``ops.region_counts``, median of warm runs:

    =====================  ==========  =======  =======
    region map             probes      chained  explode
    =====================  ==========  =======  =======
    US915, 8 levels        100k res12  1.17 s   0.80 s
    US915, 8 levels        4M          1.34 s   1.79 s
    region_map, 3 levels   4M          0.92 s   1.48 s
    synthetic, 15 levels   4M res15    22.2 s   1.61 s
    =====================  ==========  =======  =======

    Chained cost grows with the number of levels (one join each), so
    the explode form takes over on deep maps.  A left lookup on a deep
    map stays chained (explode cannot keep unmatched rows without a
    re-collapse shuffle) and pays that growth: ~1.4 s at 8 levels but
    ~7 s at 12-15 levels per 1M probes."""
    rs = region_res_set(region, region_col)
    if how == "inner" and len(rs) > MAX_CHAINED_RES:
        return get_explode(probes, region, probe_col, region_col, how, rs)
    return get_chained(probes, region, probe_col, region_col, how, rs)


def contains(
    probes: DataFrame,
    region: DataFrame,
    probe_col: str = "cell",
    region_col: str = "cell",
    out_col: str = "contained",
) -> DataFrame:
    """Mark each probe row contained (some stored leaf is its
    ancestor-or-self) or not: a left chained lookup on the region's
    cells, reduced to ``stored_cell IS NOT NULL``.  NULL and invalid
    probes come out ``False``."""
    out = get_chained(probes, region.select(region_col), probe_col, region_col, "left")
    return out.withColumn(out_col, F.col("stored_cell").isNotNull()).drop("stored_cell")


# ---------------------------------------------------------------------------
# subtree scans / aggregation
# ---------------------------------------------------------------------------

def descendants(
    region: DataFrame,
    probe_cell: int,
    region_col: str = "cell",
) -> DataFrame:
    """All stored leaves related to ``probe_cell``: the covering leaf if
    the probe sits at-or-under one, else every stored leaf under the
    probe; ordered by ``lo`` == reference DFS emission order."""
    q = F.lit(int(probe_cell)).cast("long")
    return (
        region.filter(cx.overlaps(F.col(region_col), q))
        .orderBy(cx.lo(region_col))
    )


def descendants_join(
    region: DataFrame,
    probes: DataFrame,
    region_col: str = "cell",
    probe_col: str = "probe",
    form: str = "chained",
) -> DataFrame:
    """Set-oriented ``descendants``: one output row per (probe, leaf).

    Output carries both keys so callers can aggregate per probe
    (subtree-sum etc.).  Two physical forms, identical semantics:

    * ``chained`` (default): ``related(leaf, probe)`` decomposed by
      resolution into plain **equi-joins** — for each probe res ``p``,
      leaves at-or-below ``p`` match on ``to_parent(leaf, p) ==
      probe``, and the covering-leaf case (leaf coarser than probe)
      matches on ``leaf == to_parent(probe, r)`` per coarser region
      res ``r``.  Every branch is a BroadcastHashJoin: O(|region|)
      hash lookups total, independent of probe count.
    * ``range``: broadcast nested-loop join on subtree-range overlap —
      O(|region| × |probes|) predicate evaluations; kept for arbitrary
      range probes and as the declarative/oracle-shaped twin.
    """
    if form == "range":
        p = F.broadcast(
            probes.select(
                F.col(probe_col),
                cx.lo(probe_col).alias("__plo"),
                cx.hi(probe_col).alias("__phi"),
            )
        )
        r = region.withColumn("__rlo", cx.lo(region_col)).withColumn(
            "__rhi", cx.hi(region_col)
        )
        cond = (F.col("__rlo") <= F.col("__phi")) & (F.col("__rhi") >= F.col("__plo"))
        return r.join(p, cond, "inner").drop("__plo", "__phi", "__rlo", "__rhi")
    if form != "chained":
        raise ValueError(f"unknown form {form!r}")
    p_res = region_res_set(probes, probe_col)
    r_res = region_res_set(region, region_col)
    out = None
    for pr in p_res:
        p_r = F.broadcast(probes.filter(cx.res(probe_col) == pr))
        # leaves at-or-below the probe res (probe covers leaf, or ==)
        branches = [
            region.filter(cx.res(region_col) >= pr).join(
                p_r, cx.to_parent(region_col, pr) == F.col(probe_col), "inner"
            )
        ]
        # covering leaf coarser than the probe: one equi-join per
        # coarser region res (disjoint from the branch above)
        for rr in [s for s in r_res if s < pr]:
            branches.append(
                region.filter(cx.res(region_col) == rr).join(
                    F.broadcast(
                        probes.filter(cx.res(probe_col) == pr).withColumn(
                            "__pp", cx.to_parent(probe_col, rr)
                        )
                    ),
                    F.col(region_col) == F.col("__pp"),
                    "inner",
                ).drop("__pp")
            )
        for b in branches:
            out = b if out is None else out.unionByName(b)
    if out is None:  # empty probe table
        return descendants_join(region, probes, region_col, probe_col, form="range")
    return out


def subtree_agg(
    region: DataFrame,
    probes: DataFrame,
    aggs: list,
    region_col: str = "cell",
    probe_col: str = "probe",
) -> DataFrame:
    """Aggregate region values under each probe cell (A5 subtree-sum).

    ``aggs`` are Column aggregate expressions over region columns.
    Equivalent of ``map.descendants(anc).map(|(_, v)| v).sum()``
    (/root/reference/src/iteration.rs:378-399)."""
    return descendants_join(region, probes, region_col, probe_col).groupBy(
        probe_col
    ).agg(*aggs)
