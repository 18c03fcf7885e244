"""The workloads: how each registers its inputs, runs one job through
the engine's public functions, and splits into layers when traced.

Every job ends in a sink whose result is compared with the reference in
the dataset's ``ref.json``: ``(row count, XOR of Spark xxhash64 over the
checked columns)``. A traced run times a chain of steps instead, each
step a prefix of the job (or a call of its own) ended by the same kind
of sink; a layer's self-time is its step's time minus the steps it
builds on (``Step.minus``).
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from socialmapper_spark.geo.geoparse import geoparse_cols
from socialmapper_spark.lineage import run_stage_with_lineage, verify_lineage
from socialmapper_spark.operators.knn import knn_join
from socialmapper_spark.operators.spatial_join import prepare_polygons, spatial_join
from socialmapper_spark.pipeline import flagship_query, geoparse_pages, page_assignments
from socialmapper_spark.session import release_caches

import gen
import probe


def sink(df: DataFrame, cols: list[str] | None = None, *extra) -> tuple:
    """Force every listed column: (row count, XOR of xxhash64(cols), *extra)."""
    cols = cols or df.columns
    row = df.select(
        F.count("*"), F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])), *extra
    ).collect()[0]
    return tuple(0 if v is None else v for v in row)


@dataclass
class Step:
    """One timed call of a traced run. ``metric`` names its self-time;
    ``minus`` lists the steps whose time it includes; ``post`` turns the
    step's result and its job group into counts. The self-times of the
    steps that are not ``side`` sum to the time of the ``in_job`` ones."""

    metric: str
    run: Callable[[], object]
    minus: list[str] = field(default_factory=list)
    post: Callable[[object, probe.GroupProbe], dict] | None = None
    in_job: bool = False  # part of the workload's job, not only a prefix
    side: bool = False  # outside the job's chain: a layer timed on its own
    expect: tuple | None = None  # reference (rows, XOR) the result must match


def _rows(nodes, name: str, desc: str = "") -> int:
    pat = re.compile(desc)
    return sum(m.get("number of output rows", 0) for n, d, m in nodes
               if n.strip() == name and pat.search(d))


# the cover prefilter: the points' cell key joined to the cover's `cell`
COVER_JOIN = r"BroadcastHashJoin \[[^\]]*\], \[cell#\d+L?\], Inner"
RING_JOIN = r"BroadcastHashJoin \[[^\]]*\], \[cell#\d+L?\], LeftOuter"


class Workload:
    name: str
    dataset: str
    input_table: str  # the table whose rows make rows_per_s
    ref_key: str  # the reference (rows, XOR) the job's result must match
    side_dataset: str | None = None  # a dataset only the traced run's side steps read

    def frames(self, spark, d: str) -> dict:
        raise NotImplementedError

    def job(self, spark, fr: dict, scratch: str) -> tuple[int, int]:
        raise NotImplementedError

    def side_frames(self, spark, d: str, ref: dict) -> dict:
        raise NotImplementedError

    def expected(self, ref: dict) -> tuple[int, int]:
        return tuple(ref[self.ref_key])

    def steps(self, spark, fr: dict, scratch: str) -> list[Step]:
        raise NotImplementedError


def _flagship_frames(spark, d):
    return {
        "pages": spark.read.parquet(f"{d}/pages.parquet"),
        "polygons": spark.read.parquet(f"{d}/polygons.parquet"),
        "census": spark.read.parquet(f"{d}/census_long.parquet"),
    }


def _pip_steps(spark, fr) -> list[Step]:
    """scan -> geoparse -> cells -> polyprep -> spatial_join -> meta_join
    over the flagship pages (the prefixes of page_assignments)."""
    pages, polygons = fr["pages"], fr["polygons"]

    def geoparse():
        g = geoparse_cols(F.col("text"))
        df = pages.select("url", "warc_ts", "lang", g["lat"].alias("lat"),
                          g["lon"].alias("lon"), g["mentions"].alias("mentions"))
        return sink(df, None, F.count("lat"))

    def polyprep():
        index = prepare_polygons(spark, polygons)
        return sink(index.cells_df), sink(index.geoms_df)

    def joined():
        points = geoparse_pages(pages).filter(F.col("lat").isNotNull())
        return sink(spatial_join(points, prepare_polygons(spark, polygons), cell="cell_r7"))

    n_pages = fr["ref"]["rows"]["pages"]
    return [
        Step("scan.s", lambda: sink(pages)),
        Step("geoparse.s", geoparse, ["scan.s"],
             lambda r, p: {"geoparse.located_ratio": r[2] / n_pages}),
        Step("cells.s", lambda: sink(geoparse_pages(pages)), ["geoparse.s"]),
        Step("polyprep.s", polyprep, [], _polyprep_counts),
        Step("spatial_join.s", joined, ["cells.s", "polyprep.s"], _join_counts),
        Step("meta_join.s", lambda: sink(page_assignments(spark, pages, polygons)),
             ["spatial_join.s"]),
    ]


def _polyprep_counts(result, p: probe.GroupProbe) -> dict:
    return {"polyprep.cover_cells": result[0][0],
            "polyprep.max_task_s": p.stages()["max_task_s"]}


def _join_counts(result, p: probe.GroupProbe) -> dict:
    hits = result[0]
    candidates = _rows(p.nodes(), "BroadcastHashJoin", COVER_JOIN)
    return {"spatial_join.hits": hits, "spatial_join.candidates": candidates,
            "spatial_join.hit_ratio": hits / candidates if candidates else 0.0}


class FlagshipHot(Workload):
    name, dataset, input_table, ref_key = "flagship_hot", "flagship", "pages", "flagship"

    frames = staticmethod(_flagship_frames)

    def job(self, spark, fr, scratch):
        rows = flagship_query(spark, fr["pages"], fr["polygons"], fr["census"]).collect()
        spark.catalog.clearCache()
        return tuple(gen.fold_rows([tuple(r) for r in rows]))

    def steps(self, spark, fr, scratch):
        def per_url(r, p):
            scans = [m.get("number of output rows", 0) for n, d, m in p.nodes()
                     if n.strip() == "InMemoryTableScan"]
            return {"rollup.per_url_rows": max(scans, default=0)}

        ck = Checkpoint(spark, fr, scratch)
        return _pip_steps(spark, fr) + [
            Step("rollup.s", lambda: self.job(spark, fr, scratch), ["meta_join.s"],
                 per_url, in_job=True, expect=self.expected(fr["ref"])),
            Step("lineage.write_s", ck.write, ["meta_join.s"], ck.written, side=True),
            Step("lineage.verify_s", ck.verify, [], side=True,
                 expect=tuple(fr["ref"]["assignments"])),
        ]


class Checkpoint:
    """Stage 1 of the production job: page assignments written with
    per-bucket lineage (32 buckets, whole-stage commit), then verified.
    Timed in the traced run of ``flagship_hot``, on its inputs."""

    CHECKSUM = ["url", "poly_id"]

    def __init__(self, spark, fr: dict, scratch: str):
        self.spark, self.fr = spark, fr
        self.out = os.path.join(scratch, "checkpoint")
        self.data, self.lineage = f"{self.out}/assignments", f"{self.out}/lineage"

    def write(self) -> int:
        shutil.rmtree(self.out, ignore_errors=True)
        assigns = page_assignments(self.spark, self.fr["pages"], self.fr["polygons"])
        return run_stage_with_lineage(
            self.spark, assigns, "assign", "url", self.CHECKSUM, self.data, self.lineage,
            n_buckets=32, cell_col="cell_r9",
        )

    def verify(self) -> tuple[int, int]:
        """(rows, XOR checksum) the lineage certifies, or (-1, -1) when the
        written data disagrees with it."""
        if not verify_lineage(self.spark, self.data, self.lineage, "assign",
                              self.CHECKSUM, "cell_r9"):
            return (-1, -1)
        row = self.spark.read.parquet(self.lineage).agg(
            F.sum("row_count"), F.bit_xor("checksum")).collect()[0]
        return (row[0] or 0, row[1] or 0)

    def written(self, result, p: probe.GroupProbe) -> dict:
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.data)
                 for f in fs if f.endswith(".parquet")]
        # the pages are the only input with a text column (a scan's file
        # path may be cut short in the plan description)
        page_rows = _rows(p.nodes(), "Scan parquet", r"^FileScan parquet \[[^\]]*\btext#")
        return {"lineage.input_passes": page_rows / self.fr["ref"]["rows"]["pages"],
                "lineage.files_written": len(files),
                "lineage.mb_written": sum(os.path.getsize(f) for f in files) / 1e6}


class PipDense(Workload):
    name, dataset, input_table, ref_key = "pip_dense", "dense", "points", "hits"
    side_dataset = "knn"

    def frames(self, spark, d):
        return {"points": spark.read.parquet(f"{d}/points.parquet"),
                "polygons": spark.read.parquet(f"{d}/polygons.parquet")}

    def side_frames(self, spark, d, ref):
        return {"points": spark.read.parquet(f"{d}/points.parquet"),
                "pois": spark.read.parquet(f"{d}/pois.parquet"), "ref": ref}

    def job(self, spark, fr, scratch):
        index = prepare_polygons(spark, fr["polygons"])
        return sink(spatial_join(fr["points"], index), ["id", "poly_id"])

    def steps(self, spark, fr, scratch):
        def polyprep():
            index = prepare_polygons(spark, fr["polygons"])
            return sink(index.cells_df), sink(index.geoms_df)

        return [
            Step("scan.s", lambda: sink(fr["points"])),
            Step("polyprep.s", polyprep, [], _polyprep_counts),
            Step("spatial_join.s", lambda: self.job(spark, fr, scratch),
                 ["scan.s", "polyprep.s"], _join_counts, in_job=True,
                 expect=self.expected(fr["ref"])),
            knn_step(spark, fr["side"]),
        ]


def knn_job(spark, kf: dict) -> tuple:
    out = knn_join(spark, kf["points"], kf["pois"], k=1, strategy="auto", id_col="id")
    try:
        return sink(out, ["id", "poi_id"])
    finally:
        release_caches(out)
        spark.catalog.clearCache()


def knn_step(spark, kf: dict) -> Step:
    """``operators.knn.knn_join(k=1, strategy="auto")`` of uniform points
    against uniform POIs (the k-ring path; its Albers projection runs in
    Python workers), timed around its own call and checked against its
    reference."""
    n_points, n_pois = kf["ref"]["rows"]["points"], kf["ref"]["rows"]["pois"]

    def counts(r, p):
        nodes = p.nodes()
        fallback = _rows(nodes, "BroadcastNestedLoopJoin") / max(n_pois, 1)
        return {"knn.candidates": _rows(nodes, "BroadcastHashJoin", RING_JOIN),
                "knn.fallback_ratio": fallback / max(n_points, 1)}

    return Step("knn.s", lambda: knn_job(spark, kf), [], counts, side=True,
                expect=tuple(kf["ref"]["nearest"]))


WORKLOADS = {w.name: w for w in (FlagshipHot(), PipDense())}
