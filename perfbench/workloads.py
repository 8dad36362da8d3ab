"""The benchmark workloads: ``spatial`` (read side) and ``pipelines``
(write side).

Each workload is a class with three phases:

* ``setup(ctx)``  — generate the seeded inputs and persist them (run
  several times per process; ``setup_s`` reports the median),
* ``refs(ctx)``   — compute, once, the reference answers the checks
  compare against (numpy twins on the driver, or the engine's
  ``form='explode'`` path),
* ``run_pass(ctx)`` — one pass over the workload's operations, each
  through :meth:`harness.Ctx.op`, so every result is checked.

``figures(d)`` gives the workload's own throughput figures from
``d(op)``, an operation's median time.  Input sizes are at
``scale=1``; the smoke test runs at ``scale=0.01``.  The engine only
ever sees the generated tables: the seed moves the page-key spine,
the hot spots, the polygon and the duplicate assignment.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

from hexspark import build as bx
from hexspark import cells as cx
from hexspark import cells_np as cnp
from hexspark import dedup, geo, ops, pipeline, sample, skew, storage, synth
from hexspark.cachepool import clear_all

from harness import rss_probe

PAGE_RES = 12
LANGS = ["de", "en", "es", "fr", "ja", "pt", "ru", "zh"]
# keys stay < ~3.4e9 so synth.latlon_from_key's integer hash cannot overflow
KEY_STRIDE = 1_000_003
CHECK_MOD = 1_000_003


def _key_offset(seed: int) -> int:
    return (seed % 1000) * KEY_STRIDE


def _lang(key):
    return F.element_at(F.array(*[F.lit(x) for x in LANGS]), (key % len(LANGS) + 1).cast("int"))


def _unpersist(*dfs) -> None:
    for df in dfs:
        if df is not None:
            df.unpersist(blocking=True)


def _persisted(df):
    df = df.persist()
    df.count()
    return df


@contextmanager
def _uncoalesced(spark):
    """AQE partition coalescing off inside the block.  At this input size
    AQE merges a whole reduce stage into one task, which hides how the
    hot keys split across reducers; with it off the stage keeps its
    2 x nproc tasks, as it would at page scale."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _rows_to_dict(rows, key: str, *vals: str) -> dict:
    return {r[key]: tuple(r[v] for v in vals) for r in rows}


def _encoded(pages):
    return pages.withColumn("cell", geo.grid_encode(F.col("lat"), F.col("lon"), PAGE_RES))


# ---------------------------------------------------------------------------
# spatial: the read side
# ---------------------------------------------------------------------------

class Spatial:
    """Read side, over one seeded page table with two geotags.

    Join part, on the uniform geotag (page-scale probes, tiny build
    side): an encode-only pass, region counts through both ``get_auto``
    branches — chained broadcast joins for the 3-level region map,
    ``mapInArrow`` for the 8-level US915 map — and the radius join.

    Tiling part, on the hot-spot geotag (70% of pages in Zipf-weighted
    spots): pyramid, tile rollup, the spatial cap and salted
    aggregation.  Shuffles and aggregates dominate; the join
    only sees tile-scale rows, and the hot tiles make skew handling do
    real work."""

    N_PAGES = 100_000
    PROBE_EVERY = 200  # distance-join probes = 0.5% of pages
    RADIUS = 0.5
    HOT_SPOTS, HOT_SHARE, ZIPF_S, HOT_SPREAD = 24, 0.7, 1.1, 0.6
    PYRAMID_RES, TILE_RES, CAP_K, SALT_RES, N_SALTS = 6, 4, 3, 2, 16

    def __init__(self):
        self.table = None

    def _with_hot_cell(self, df, seed: int):
        """Add ``hcell``, the res-12 cell of the hot-spot geotag: a seeded
        Zipf draw picks the spot (or the uniform background), a key hash
        the jitter."""
        rng = np.random.default_rng(seed)
        clat = rng.uniform(-50.0, 60.0, self.HOT_SPOTS)
        clon = rng.uniform(-170.0, 170.0, self.HOT_SPOTS)
        w = 1.0 / np.arange(1, self.HOT_SPOTS + 1) ** self.ZIPF_S
        cdf = np.cumsum(w / w.sum()) * self.HOT_SHARE
        # spot index per 1/1000 draw bucket; past the hot share: background
        bucket = (np.arange(1000) + 0.5) / 1000
        spot_of = np.where(bucket < cdf[-1], np.searchsorted(cdf, bucket, side="right"), -1)
        u = F.pmod(F.xxhash64("page_key", F.lit(seed)), F.lit(1000)).cast("int")
        spot = F.element_at(F.array(*[F.lit(int(x)) for x in spot_of]), u + 1)
        jlat = (F.col("page_key") * 7919 % 20001) / 10000.0 - 1.0
        jlon = (F.col("page_key") * 104729 % 20001) / 10000.0 - 1.0
        at = lambda xs: F.element_at(F.array(*[F.lit(float(x)) for x in xs]), F.col("__spot") + 1)  # noqa: E731
        hot = F.col("__spot") >= 0
        return df.withColumn("__spot", spot).withColumn("hcell", geo.grid_encode(
            F.when(hot, at(clat) + jlat * self.HOT_SPREAD).otherwise(F.col("lat")),
            F.when(hot, at(clon) + jlon * self.HOT_SPREAD).otherwise(F.col("lon")),
            PAGE_RES,
        )).drop("__spot")

    def setup(self, ctx):
        _unpersist(self.table)
        off = _key_offset(ctx.seed)
        lat, lon = synth.latlon_from_key(F.col("page_key"))
        with ctx.span("pages.materialize"):
            base = (
                ctx.spark.range(0, ctx.size(self.N_PAGES, 2000), 1, 2 * ctx.cores)
                .select((F.col("id") + off).alias("page_key"))
                .select("page_key", _lang(F.col("page_key")).alias("lang"), lat, lon)
            )
            self.table = self._with_hot_cell(base, ctx.seed).persist()
            self.n = self.table.count()
        self.pages = self.table.select("page_key", "lang", "lat", "lon")
        self.hot = self.table.select("page_key", "lang", F.col("hcell").alias("cell"))

    def refs(self, ctx):
        self.shallow = _persisted(ops.region_map(ctx.spark))
        us = ctx.spark.read.parquet(os.path.join(ctx.root, "fixtures", "us915_compact.parquet"))
        self.deep = _persisted(us.select("cell", cx.to_parent("cell", 1).alias("region")))

        def explode_counts(pages, region):
            return _rows_to_dict(ops.region_counts(pages, region, form="explode").collect(),
                                 "region", "n_pages", "n_langs")

        enc = _encoded(self.pages)
        self.ref_shallow = explode_counts(enc, self.shallow)
        self.ref_deep = explode_counts(enc, self.deep)
        self.ref_hot_regions = {k: v[0] for k, v in explode_counts(self.hot, self.shallow).items()}

        pdf = self.table.select("page_key", "lat", "lon", "hcell").toPandas()
        key = pdf["page_key"].to_numpy()
        lat, lon = pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
        cells = geo.grid_encode_np(lat, lon, PAGE_RES)
        self.ref_encode = (len(cells), int((cells % CHECK_MOD).sum()))
        self.ref_pairs = ctx.extra["pairs"] = _pairs_within(lat, lon, key % self.PROBE_EVERY == 0, self.RADIUS)
        _, per_tile = np.unique(cnp.to_parent(pdf["hcell"].to_numpy(), self.TILE_RES), return_counts=True)
        self.n_tiles = len(per_tile)
        self.n_capped = int(np.minimum(per_tile, self.CAP_K).sum())
        tiles, per_salt_tile = np.unique(cnp.to_parent(pdf["hcell"].to_numpy(), self.SALT_RES),
                                         return_counts=True)
        self.ref_salt_tiles = {int(t): int(c) for t, c in zip(tiles, per_salt_tile)}

    def run_pass(self, ctx):
        self._join_part(ctx)
        self._tiling_part(ctx)

    def _join_part(self, ctx):
        pages = self.pages
        ctx.op(
            "geo.encode",
            lambda: pages.select(geo.grid_encode(F.col("lat"), F.col("lon"), PAGE_RES).alias("cell")),
            lambda df: tuple(df.agg(F.count("*"), F.sum(F.col("cell") % CHECK_MOD)).first()),
            lambda out: out == self.ref_encode,
        )
        for name, region, ref in (("join.shallow", self.shallow, self.ref_shallow),
                                  ("join.deep", self.deep, self.ref_deep)):
            ctx.op(
                name,
                lambda region=region: ops.region_counts(_encoded(pages), region),
                lambda df: _rows_to_dict(df.collect(), "region", "n_pages", "n_langs"),
                lambda out, ref=ref: out == ref,
            )

        def _dj():
            enc = _encoded(pages)
            probes = enc.filter(F.col("page_key") % self.PROBE_EVERY == 0).select(
                F.col("page_key").alias("probe_id"), F.col("lat").alias("plat"), F.col("lon").alias("plon"))
            return geo.distance_join(
                probes, enc, self.RADIUS, probe_key="probe_id", point_key="page_key",
                probe_cols=("plat", "plon"), point_cols=("lat", "lon"))

        ctx.op("geo.distance_join", _dj, lambda df: df.count(), lambda out: out == self.ref_pairs)

    def _tiling_part(self, ctx):
        pages, n, k = self.hot, self.n, self.CAP_K

        def pyr_ok(out):
            by_z = {z: (s, c) for z, s, c in out}
            return (sorted(by_z) == list(range(self.PYRAMID_RES + 1))
                    and all(s == n for s, _ in by_z.values())
                    and by_z[self.TILE_RES][1] == self.n_tiles)

        ctx.op(
            "ops.tile_pyramid",
            lambda: ops.tile_pyramid(pages, self.PYRAMID_RES),
            lambda df: sorted(tuple(r) for r in df.groupBy("z").agg(F.sum("n_pages"), F.count("*")).collect()),
            pyr_ok,
        )
        ctx.op(
            "ops.tile_region_rollup",
            lambda: ops.tile_region_rollup(pages, self.shallow, self.PYRAMID_RES),
            lambda df: {r["region"]: r["n_pages"] for r in df.collect()},
            lambda out: out == self.ref_hot_regions,
        )
        ctx.op(
            "sample.cap_per_tile",
            lambda: sample.cap_per_tile(pages, k=k, tile_res=self.TILE_RES),
            lambda df: tuple(df.agg(F.count("*"), F.count_distinct("tile"), F.max("rank")).first()),
            lambda out: out[0] == self.n_capped and out[1] == self.n_tiles and out[2] <= k,
        )
        # exact distinct pages per res-2 tile, through sets: a holistic
        # aggregate whose per-key state grows with the key's rows, so
        # map-side partial aggregation cannot absorb the hot tiles (as it
        # does for count(*)), and the plain form funnels each hot tile
        # into one reduce task
        salted_in = pages.withColumn("tile", cx.to_parent("cell", self.SALT_RES))
        distinct_pages = F.size(F.collect_set("page_key"))
        with _uncoalesced(ctx.spark):
            plain = ctx.op(
                "skew.plain_agg",
                lambda: salted_in.groupBy("tile").agg(distinct_pages.alias("n")),
                lambda df: {r["tile"]: r["n"] for r in df.collect()},
                lambda out: out == self.ref_salt_tiles,
            )
            ctx.op(
                "skew.salted_agg",
                lambda: skew.salted_agg(salted_in, "tile", self.N_SALTS, [distinct_pages.alias("d")],
                                        [F.sum("d").alias("n")], salt_expr=F.col("page_key")),
                lambda df: {r["tile"]: r["n"] for r in df.collect()},
                lambda out: plain is not None and out == plain,
            )

    def figures(self, d) -> dict:
        rate = lambda op: self.n / d(op) if d(op) else 0.0  # noqa: E731
        return {"assign_shallow_pages_per_s": rate("join.shallow"),
                "assign_deep_pages_per_s": rate("join.deep"),
                "distance_join_s": d("geo.distance_join"),
                "pyramid_pages_per_s": rate("ops.tile_pyramid"),
                "cap_per_tile_s": d("sample.cap_per_tile")}


def _pairs_within(lat, lon, is_probe, radius: float) -> int:
    """numpy twin of geo.distance_join's pair count (same sq_dist order)."""
    order = np.argsort(lat, kind="stable")
    slat, slon = lat[order], lon[order]
    r2 = float(radius) * float(radius)
    total = 0
    for pla, plo in zip(lat[is_probe], lon[is_probe]):
        a = np.searchsorted(slat, pla - radius - 1e-9, side="left")
        b = np.searchsorted(slat, pla + radius + 1e-9, side="right")
        dy = pla - slat[a:b]
        dx = plo - slon[a:b]
        total += int(np.count_nonzero(dy * dy + dx * dx <= r2))
    return total


# ---------------------------------------------------------------------------
# pipelines: the write side
# ---------------------------------------------------------------------------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _docs_pdf(seed: int, n: int, dup_share: float = 0.0, near_share: float = 0.0):
    """Seeded documents table (doc_id, text, lang, source, n_chars).

    ``dup_share`` of the docs are exact copies of an earlier doc and
    ``near_share`` are copies with one token replaced, as in a crawl."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    words = np.array(WORDS)
    lens = rng.integers(20, 80, n)
    texts = [" ".join(words[rng.integers(0, len(words), m)]) for m in lens]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < dup_share:
            texts[i] = texts[int(rng.integers(0, i))]
        elif kind[i] < dup_share + near_share:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(words[int(rng.integers(0, len(words)))])
            texts[i] = " ".join(toks)
    # run_pipeline derives page keys as doc_id * copies + copy, and
    # synth.latlon_from_key needs keys < ~3.4e9: keep doc ids small
    off = (seed % 1000) * n
    pdf = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64) + off,
        "text": texts,
        "lang": [LANGS[i % len(LANGS)] for i in range(n)],
        "source": [f"src{i % 7}" for i in range(n)],
    })
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    return pdf


def _simhash64_np(texts: list) -> np.ndarray:
    """Driver twin of ``dedup.simhash(bits=64)`` over clean texts (lower
    case, single spaces): bit j is set when most token occurrences have
    bit j set in the token's md5-prefix hash (bits 60..63 from the
    ``"b:"``-prefixed draw)."""
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    vocab = sorted({t for x in texts for t in x.split(" ")})
    index = {t: i for i, t in enumerate(vocab)}
    signs = np.array([[((h60(t) >> j) & 1) * 2 - 1 for j in range(60)]
                      + [((h60("b:" + t) >> j) & 1) * 2 - 1 for j in range(4)] for t in vocab])
    counts = np.zeros((len(texts), len(vocab)))
    for i, x in enumerate(texts):
        for t in x.split(" "):
            counts[i, index[t]] += 1
    on = (counts @ signs) > 0
    return (on.astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)


def _dup_clusters_np(doc_ids: np.ndarray, texts: list, max_hamming: int = 3) -> dict:
    """Driver twin of ``run_corpus_pipeline``'s ``dup_clusters``: docs
    with equal texts join, texts whose 64-bit simhashes differ in at
    most ``max_hamming`` bits join, and a doc's cluster is the smallest
    doc id of its connected component."""
    uniq, inv = np.unique(np.array(texts, dtype=object), return_inverse=True)
    sigs = _simhash64_np(list(uniq))
    popcount = np.array([bin(b).count("1") for b in range(256)], dtype=np.uint8)
    parent = np.arange(len(uniq))

    def root(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for lo in range(0, len(uniq), 64):  # 64 rows at a time keep the driver's RSS flat
        x = sigs[lo:lo + 64, None] ^ sigs[None, :]
        dist = popcount[x.view(np.uint8).reshape(*x.shape, 8)].sum(axis=-1)
        for a, b in zip(*np.nonzero(dist <= max_hamming)):
            ra, rb = root(lo + int(a)), root(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comp = np.array([root(int(i)) for i in inv])
    first = {}
    for c, d in zip(comp, doc_ids):
        first[c] = min(first.get(c, d), d)
    return {int(d): int(first[c]) for c, d in zip(comp, doc_ids)}


class Pipelines:
    """Writes beside reads: the region build (hierarchical polyfill,
    distributed set compaction with its driver twin, a region store
    round-trip), then the two resumable drivers: the checkpointed
    spatial pipeline run fresh and resumed, and the corpus-curation
    pipeline, fresh, over a crawl-like table with ~40% exact and ~10%
    one-token near duplicates."""

    # region_build_s: the region-map build and store round-trip
    REGION_BUILD = ("geo.polyfill_hier", "build.build_region", "storage.write_region", "storage.read_region")
    N_CELLS = 50_000
    N_DOCS, COPIES = 500, 40  # run_pipeline pages = docs x copies
    N_CORPUS = 5_000
    DUP_SHARE, NEAR_SHARE = 0.4, 0.1
    POLY_RES = 7
    # a country-sized quadrilateral; the seed shifts it by < 1 degree
    POLYGON = [(39.0, -8.5), (41.5, -8.0), (41.0, -5.5), (37.5, -6.5)]

    def __init__(self):
        self.cells = self.corpus = None

    def setup(self, ctx):
        _unpersist(self.cells, self.corpus)
        rng = np.random.default_rng(ctx.seed)
        dlat, dlon = rng.uniform(-0.9, 0.9, 2)
        self.polygon = [(a + dlat, b + dlon) for a, b in self.POLYGON]
        self.docs_dir = os.path.join(ctx.work, "docs")
        with ctx.span("pages.materialize"):
            pdf = _docs_pdf(ctx.seed, ctx.size(self.N_DOCS, 20))
            self.n_pages = len(pdf) * self.COPIES
            os.makedirs(self.docs_dir, exist_ok=True)
            pdf.to_parquet(os.path.join(self.docs_dir, "documents.parquet"), index=False)
            m = ctx.size(self.N_CELLS, 500)
            off = _key_offset(ctx.seed)
            # line-item-like part keys: each key repeats ~2x, so the build
            # dedupes before it compacts
            self.cells = ctx.spark.range(0, m, 1, 2 * ctx.cores).select(
                synth.cell_from_key((F.col("id") * 7919 + off) % max(1, m // 2), 8).alias("cell")
            ).persist()
            self.cells.count()
            cpdf = _docs_pdf(ctx.seed + 1, ctx.size(self.N_CORPUS, 200), self.DUP_SHARE, self.NEAR_SHARE)
            self.n_docs = len(cpdf)
            self.corpus_pdf = cpdf
            self.corpus = ctx.spark.createDataFrame(cpdf).repartition(2 * ctx.cores).persist()
            self.corpus.count()

    def refs(self, ctx):
        poly = np.sort(geo.polyfill_np(self.polygon, self.POLY_RES))
        self.ref_poly = (len(poly), int((poly % CHECK_MOD).sum()))
        self.src = self.cells.unionByName(
            ctx.spark.createDataFrame([(int(c),) for c in poly], "cell: long")
        ).persist()
        self.src.count()
        ctx.extra["docs_bytes"] = os.path.getsize(os.path.join(self.docs_dir, "documents.parquet"))
        self.ref_clusters = _dup_clusters_np(self.corpus_pdf["doc_id"].to_numpy(),
                                             self.corpus_pdf["text"].tolist())

    def run_pass(self, ctx):
        self._region_build(ctx)
        self._spatial_pipeline(ctx)
        self._corpus_pipeline(ctx)

    def figures(self, d) -> dict:
        return {"region_build_s": sum(d(op) for op in self.REGION_BUILD),
                "pipeline_pages_per_s": self.n_pages / d("pipeline.run_pipeline"),
                "corpus_docs_per_s": self.n_docs / d("pipeline.run_corpus_pipeline")}

    def _region_build(self, ctx):
        spark = ctx.spark

        def summary(df):
            return tuple(df.agg(F.count("*"), F.sum(F.col("cell") % CHECK_MOD)).first())

        ctx.op("geo.polyfill_hier",
               lambda: geo.polyfill_hier(spark, self.polygon, self.POLY_RES),
               summary, lambda out: out == self.ref_poly)
        built = ctx.op("build.build_region",
                       lambda: bx.build_region(self.src, compactor="set").persist(),
                       lambda df: (df, summary(df)), lambda out: out[1][0] > 0)
        local = ctx.op("build.build_region_local",
                       lambda: bx.build_region_local(self.src, compactor="set"),
                       summary, lambda out: built is not None and out == built[1])
        path = os.path.join(ctx.work, f"region-{ctx.round}")
        if built is not None:
            ctx.op("storage.write_region",
                   lambda: built[0], lambda df: storage.write_region(df, path),
                   lambda out: os.path.isdir(path))
            built[0].unpersist()
            ctx.op("storage.read_region",
                   lambda: storage.read_region(spark, path), summary,
                   lambda out: local is not None and out == local)
        shutil.rmtree(path, ignore_errors=True)

    def _spatial_pipeline(self, ctx):
        spark = ctx.spark
        wd = os.path.join(ctx.work, f"pipe-{ctx.round}")

        def collect_pipe(out):
            rc = {r["region"]: (r["n_pages"], r["n_langs"]) for r in out["region_counts"].collect()}
            tr = {r["region"]: r["n_pages"] for r in out["tile_rollup"].collect()}
            return rc, tr, out["lineage"]

        # pages in a region == pages under the region's res-6 tiles: the
        # region leaves are coarser than the tiles
        fresh = ctx.op(
            "pipeline.run_pipeline",
            lambda: pipeline.run_pipeline(spark, self.docs_dir, wd, copies=self.COPIES),
            collect_pipe,
            lambda out: (sum(v[0] for v in out[0].values()) == sum(out[1].values()) > 0),
        )
        ctx.op(
            "pipeline.resume",
            lambda: pipeline.run_pipeline(spark, self.docs_dir, wd, copies=self.COPIES),
            collect_pipe,
            lambda out: fresh is not None and out[:2] == fresh[:2],
        )
        if fresh is not None:
            ctx.extra.setdefault("lineage", {})[ctx.round] = fresh[2]
        shutil.rmtree(wd, ignore_errors=True)

    def _corpus_pipeline(self, ctx):
        wd = os.path.join(ctx.work, f"corpus-{ctx.round}")

        def call():
            if not ctx.traced:
                return pipeline.run_corpus_pipeline(ctx.spark, ctx.work, wd, docs=self.corpus)
            # traced runs only: the driver-RSS growth of dup_clusters'
            # driver-side union-find
            orig = dedup.dup_clusters

            def probed(*a, **kw):
                with rss_probe(ctx.extra.setdefault("rss_delta", {}), ctx.round):
                    return orig(*a, **kw)

            dedup.dup_clusters = probed
            try:
                return pipeline.run_corpus_pipeline(ctx.spark, ctx.work, wd, docs=self.corpus)
            finally:
                dedup.dup_clusters = orig

        def action(out):
            n_keep = out["keepers"].count()
            clusters = {r["id"]: r["cluster"] for r in out["dup_clusters"].collect()}
            return n_keep, clusters, out["lineage"]

        # every doc in its twin's cluster (no over- or under-merging),
        # and one keeper per cluster
        res = ctx.op(
            "pipeline.run_corpus_pipeline", call, action,
            lambda out: out[1] == self.ref_clusters and out[0] == len(set(out[1].values())),
        )
        if res is not None:
            ctx.extra.setdefault("corpus_lineage", {})[ctx.round] = res[2]
        shutil.rmtree(wd, ignore_errors=True)


WORKLOADS = {"spatial": Spatial, "pipelines": Pipelines}


def reset_caches(spark) -> None:
    """Between passes: drop operator-internal persists and collect JVM
    garbage, so a pass measures work, not a previous pass's leftovers."""
    clear_all(blocking=True)
    spark.sparkContext._jvm.System.gc()
