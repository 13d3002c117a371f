"""The declared-query mix: a fixed list run in a fixed order, each
result checked against its DuckDB oracle digest outside the timed
part."""

from __future__ import annotations

import json
import os
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

from developing_img_etl_spark.multimodal.image import compress_pipeline
from developing_img_etl_spark.multimodal.png import make_png
from developing_img_etl_spark.queries import all_queries
from developing_img_etl_spark.queries._shingle import shingle_index

from . import stats, trace
from .digest import frame_digest
from .metrics import LAYER_METRICS, MS, metric, with_units, zero_layers

# The relational floor, a registered UDF, the codec family and a
# shingle-index consumer. q82 (iterative graph), m18 (JPEG codec), m20
# (frame sample) and st7 (stateful streaming) would add about 8.5 s per
# round on a 4-core host, more than the benchmark's run budget allows.
MIX = [
    "q1_incremental_antijoin",
    "q40_price_histogram",
    "q90_sql_registered_udf",
    "m1_image_compress",
    "m14_png_compress",
    "q48_edit_distance_pairs",
]
CODEC_QUERIES = ("m1_image_compress", "m14_png_compress")


class CheckFailed(AssertionError):
    """A query result, or the re-encoded PNGs, came out wrong."""


def shared_build(spark, sf_dir: str) -> int:
    """Build and materialize the persisted shingle index the dedup
    consumers share; returns its row count."""
    return shingle_index(spark, sf_dir).count()


def run_query(spark, name: str, sf_dir: str, tracer=None):
    """(build seconds, action seconds, result frame) of one query; with
    a tracer the two halves are spans of their own."""
    fn = all_queries()[name]
    if tracer is None:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        pdf = df.toPandas()
        return t1 - t0, time.perf_counter() - t1, pdf
    with tracer.span(f"queries.build:{name}") as b:
        df = fn(spark, sf_dir)
    with tracer.span(f"queries.action:{name}") as a:
        pdf = df.toPandas()
    return b.duration, a.duration, pdf


def check(name: str, pdf, oracles: dict) -> None:
    got = frame_digest(pdf)
    if got != oracles[name]:
        raise CheckFailed(f"{name}: digest {got} != oracle {oracles[name]}")


def png_sizes() -> list[tuple[int, int]]:
    """(w, h) of m14's synthetic PNGs for each part size 1-50, once each
    (the formula of m14's corpus)."""
    return [(1200 + p, 8) if p > 48 else (16 + p % 48, 12 + p % 16) for p in range(1, 51)]


def png_output_kb(spark, seed: int) -> list[float]:
    """KB of every PNG the package's compress pipeline re-encodes from
    m14's image family, one image of each size m14's corpus can hold,
    the seed picking the content. m14 itself returns no bytes, and over
    m14's own rows (about 20 at this scale, their sizes drawn by the
    table's seed) the mean moves by a fifth from seed to seed; m1's
    images are placeholders whose sizes follow a formula."""
    rows = [(i, make_png(w, h, (seed + i) % 251)) for i, (w, h) in enumerate(png_sizes())]
    out = compress_pipeline(spark.createDataFrame(rows, "k int, content binary"))
    return [r["n"] / 1024.0 for r in out.filter(F.col("status") == "ok")
            .select(F.length("content_out").alias("n")).collect()]


class QueryMix:
    has_shared_build = True

    def __init__(self, src: str, run_dir: str, seed: int):
        self.sf_dir = os.path.join(src, "tables")
        self.seed = seed
        with open(os.path.join(src, "oracles.json")) as f:
            self.oracles = json.load(f)
        self.kb: list[float] = []
        self.rows: dict[str, int] = {}
        self.ok: dict[str, int] = {}  # rows with status "ok" of each codec query

    def shared_build(self, spark) -> None:
        shared_build(spark, self.sf_dir)

    def final_check(self, spark) -> None:
        """The re-encoded PNG sizes, once per run and untimed; every
        image must re-encode."""
        self.kb = png_output_kb(spark, self.seed)
        if len(self.kb) != len(png_sizes()):
            raise CheckFailed(f"{len(self.kb)} of {len(png_sizes())} PNGs re-encoded")

    def warmup(self, spark) -> None:
        for name in MIX:
            run_query(spark, name, self.sf_dir)

    def tracer(self, spark, i: int):
        return trace.Tracer(trace.job_group_setter(spark), prefix=f"r{i}.")

    def timed(self, spark, tracer=None):
        """One round of the mix; each query's result is checked after
        the round, outside the timed part."""
        per, results = {}, {}
        with tracer.span("round") if tracer else nullcontext() as root:
            for name in MIX:
                b, a, pdf = run_query(spark, name, self.sf_dir, tracer)
                per[name] = (b, a)
                results[name] = pdf
        for name, pdf in results.items():
            check(name, pdf, self.oracles)
            self.rows[name] = len(pdf)
        self.ok = {n: int((results[n]["status"] == "ok").sum()) for n in CODEC_QUERIES}
        total = sum(b + a for b, a in per.values())
        return {"s": root.duration if tracer else total, "per": per}

    def _per_query(self, samples) -> dict[str, list[float]]:
        return {n: [s["per"][n][0] + s["per"][n][1] for s in samples] for n in samples[0]["per"]}

    def e2e_metrics(self, samples, details) -> dict:
        per = self._per_query(samples)
        med = {n: stats.median(v) for n, v in per.items()}
        codec_s = sum(med[n] for n in CODEC_QUERIES)
        codec_images = sum(self.ok.values())
        details["query_s"] = {n: stats.summary(v) for n, v in per.items()}
        return {
            "pass_p50_s": metric(stats.median([s["s"] for s in samples]), "s"),
            "photos_per_s": metric(codec_images / codec_s, "1/s"),
            "out_kb_per_photo": metric(sum(self.kb) / len(self.kb), "KB"),
            "query_geomean_s": metric(stats.geomean(list(med.values())), "s"),
        }

    def details(self, samples) -> dict:
        return {"pass_s": stats.summary([s["s"] for s in samples]), "rows": self.rows}

    def layer_metrics(self, untraced, traced_runs, groups) -> dict:
        per_round = []
        for sample, tr in traced_runs:
            root = next(sp for sp in tr.spans if sp.name == "round")
            v = zero_layers()
            for sp in tr.spans:
                g = groups.get(sp.group)
                if sp.name.startswith("queries.build:"):
                    v["queries.build_s"] += sp.duration
                    v["queries.build_jobs"] += g["jobs"] if g else 0
                elif sp.name.startswith("queries.action:"):
                    v["queries.action_s"] += sp.duration
                if g is None or sp is root:
                    continue
                v["queries.jobs"] += g["jobs"]
                v["queries.stages"] += g["stages"]
                v["queries.tasks"] += g["tasks"]
                v["queries.shuffle_write_bytes"] += g["shuffle_write_bytes"]
                v["queries.shuffle_read_bytes"] += g["shuffle_read_bytes"]
                v["queries.spill_bytes"] += g["spill_bytes"]
                v["queries.python_s"] += g["python_run"] * MS
            v["trace.span_coverage"] = trace.coverage(tr.spans, root)
            v["pass_s"] = sample["s"]
            per_round.append(v)
        out = {k: stats.median([p[k] for p in per_round]) for k in LAYER_METRICS}
        out["trace.overhead_s"] = (stats.median([p["pass_s"] for p in per_round])
                                   - stats.median([s["s"] for s in untraced]))
        return with_units(out)
