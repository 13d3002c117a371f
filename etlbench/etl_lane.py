"""The weekly photo job (Forms export -> unpivot -> catalog anti-join ->
folder map -> fuzzy resolve -> 1024 px / q65 re-encode -> partitioned
sink -> TxLog catalog commit), composed from the package's public
functions, with its per-pass output checks and its traced variant.

The untimed pass runs ``pipeline.etl.run_incremental`` as the package
composes it. The traced pass calls the stages that function composes
one at a time and materializes each, so every span holds its own
execution.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow.parquet as pa_parquet
from pyspark.sql import functions as F

from developing_img_etl_spark.multimodal import bmp, jpeg, png
from developing_img_etl_spark.multimodal.image import JPEG_QUALITY, MAX_DIM, compress_pipeline
from developing_img_etl_spark.pipeline import etl
from developing_img_etl_spark.sinks.partitioned import write_partitioned
from developing_img_etl_spark.sinks.txlog import TxLogFormat
from developing_img_etl_spark.sources.binary import read_binary_dir
from developing_img_etl_spark.sources.excel import read_excel

from . import stats, trace
from .host import map_in_processes
from .inputs import NEW_WEEKS, capped_dims
from .metrics import LAYER_METRICS, MS, metric, with_units, zero_layers

SINK_COLS = ["kode_proyek", "minggu", "nama_file", "content_out"]
FUNNEL = ("unpivoted", "catalog_skipped", "map_miss", "resolved_exact", "resolved_fuzzy",
          "unresolved")


class CheckFailed(AssertionError):
    """A pass produced a wrong output."""


def _files(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, fs in os.walk(root) for f in fs
    }


@dataclass
class PassOutput:
    seconds: float
    status: dict = field(default_factory=dict)  # compress status -> rows
    files_written: int = 0
    bytes_written: int = 0


def funnel_counts(photos, fresh, mapped, resolved) -> dict:
    """The six funnel counts from the job's stage frames (unpivoted
    photos, those not in the catalog, those with a folder, and their
    resolved local files), in one Spark job."""
    kind = (F.when(F.col("resolved_file").isNull(), "unresolved")
            .when(F.col("resolved_file") == F.col("nama_file"), "resolved_exact")
            .otherwise("resolved_fuzzy"))
    tagged = (photos.select(F.lit("unpivoted").alias("k"))
              .unionByName(fresh.select(F.lit("fresh").alias("k")))
              .unionByName(mapped.select(F.lit("mapped").alias("k")))
              .unionByName(resolved.select(kind.alias("k"))))
    n = {r["k"]: r["c"] for r in tagged.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()}
    return {
        "unpivoted": n.get("unpivoted", 0),
        "catalog_skipped": n.get("unpivoted", 0) - n.get("fresh", 0),
        "map_miss": n.get("fresh", 0) - n.get("mapped", 0),
        "resolved_exact": n.get("resolved_exact", 0),
        "resolved_fuzzy": n.get("resolved_fuzzy", 0),
        "unresolved": n.get("unresolved", 0),
    }


class EtlJob:
    """One workload's live catalog and sink, restored to their pristine
    state before every pass."""

    def __init__(self, inputs: str, run_dir: str):
        self.exports = [os.path.join(inputs, f"export-{i}.xlsx") for i in range(NEW_WEEKS)]
        self.staging = os.path.join(inputs, "staging")
        self.catalog = os.path.join(run_dir, "catalog")
        self.sink = os.path.join(run_dir, "sink")
        shutil.copytree(os.path.join(inputs, "catalog"), self.catalog)
        shutil.copytree(os.path.join(inputs, "sink"), self.sink)
        with open(os.path.join(inputs, "truth.json")) as f:
            self.truths = json.load(f)
        self.use(0)
        self.fmt = TxLogFormat()
        self.version0 = self.fmt.versions(self.catalog)[-1]
        self._pristine = {p: _files(p) for p in (self.catalog, self.sink)}
        self._decoded: dict[str, list | None] = {}  # sha256 of a committed image -> decoded_dims

    def use(self, week: int) -> None:
        """Run the next passes on the export whose new week is the
        ``week``-th label (``inputs.NEW_WEEKS``)."""
        self.export, self.truth = self.exports[week], self.truths[week]

    def restore(self) -> None:
        for root, keep in self._pristine.items():
            for rel in _files(root) - keep:
                os.remove(os.path.join(root, rel))
            for d, dirs, fs in sorted(os.walk(root), reverse=True):
                if d != root and not dirs and not fs and os.path.relpath(d, root) not in keep:
                    os.rmdir(d)

    def new_sink_files(self) -> list[str]:
        return sorted(
            os.path.join(self.sink, r) for r in _files(self.sink) - self._pristine[self.sink]
            if r.endswith(".parquet")
        )

    # -- the job ----------------------------------------------------------
    def staged_files(self, spark):
        files = read_binary_dir(spark, self.staging)
        return files.withColumn("file_name", F.element_at(F.split("path", "/"), -1))

    def run_pass(self, spark) -> PassOutput:
        """One timed pass: export on disk to catalog commit."""
        t0 = time.perf_counter()
        forms = read_excel(spark, self.export)
        catalog = self.fmt.read(spark, self.catalog)
        files = self.staged_files(spark)
        records, _ = etl.run_incremental(forms, catalog, files.select("file_name"),
                                         etl.folder_map_df(spark))
        out = self._commit_stages(records, files)
        out.seconds = time.perf_counter() - t0
        return out

    def _compressed(self, records, files):
        content = files.select(F.col("file_name").alias("resolved_file"), "content")
        return compress_pipeline(records.join(content, "resolved_file"))

    def _commit_stages(self, records, files, tracer=None) -> PassOutput:
        span = tracer.span if tracer else (lambda _name: nullcontext())
        with span("multimodal.compress"):
            compressed = self._compressed(records, files).persist()
            status = {r["status"]: r["n"] for r in
                      compressed.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
        ok = compressed.filter(F.col("status") == "ok").withColumn(
            "size_gambar_kb", F.round(F.length("content_out") / 1024.0, 2))
        before = self.new_sink_files()
        if status.get("ok"):
            with span("sinks.write_partitioned"):
                write_partitioned(ok.select(*SINK_COLS), self.sink)
            with span("sinks.txlog_commit"):
                self.fmt.append(ok.select(*etl.CATALOG_COLUMNS), self.catalog)
        compressed.unpersist()
        written = sorted(set(self.new_sink_files()) - set(before))
        return PassOutput(0.0, status, len(written), sum(os.path.getsize(p) for p in written))

    # -- checks (untimed) -------------------------------------------------
    def funnel(self, spark) -> dict:
        """Funnel counts of the job over the pre-pass catalog version."""
        forms = read_excel(spark, self.export)
        catalog = self.fmt.read(spark, self.catalog, version=self.version0)
        files = self.staged_files(spark).select("file_name")
        photos = etl.unpivot_photos(forms)
        fresh = etl.new_photos(photos, catalog)
        mapped = etl.attach_folder(fresh, etl.folder_map_df(spark))
        return funnel_counts(photos, fresh, mapped, etl.resolve_local_files(mapped, files))

    def check_funnel(self, counts: dict) -> None:
        want = {k: self.truth[k] for k in counts}
        if counts != want:
            raise CheckFailed(f"funnel {counts} != truth {want}")

    def check(self, out: PassOutput) -> list[float]:
        """Raise CheckFailed on any wrong output of a pass; returns the
        committed KB per photo of this pass."""
        t = self.truth
        status = {"ok": t["images"], "unreadable": t["unreadable"]}
        if {k: out.status.get(k, 0) for k in status} != status:
            raise CheckFailed(f"compress status {out.status} != {status}")
        versions = self.fmt.versions(self.catalog)
        if versions[-1] != self.version0 + 1:
            raise CheckFailed(f"catalog at v{versions[-1]}, expected v{self.version0 + 1}")
        self._check_catalog()
        return self._check_images()

    def _check_catalog(self) -> None:
        """Row count and composite-key uniqueness of the catalog's live
        files, read without Spark."""
        keys = [k for a in self.fmt.files(self.catalog)
                for k in zip(*pa_parquet.read_table(os.path.join(self.catalog, a["path"]),
                                            columns=["kode_proyek", "minggu", "nama_file"])
                             .to_pydict().values())]
        if len(keys) != self.truth["catalog_rows_after"] or len(set(keys)) != len(keys):
            raise CheckFailed(f"catalog rows {len(keys)} (distinct keys {len(set(keys))}), "
                              f"expected {self.truth['catalog_rows_after']} unique")

    def _check_images(self) -> list[float]:
        """Every committed image fully decodes to its expected size;
        returns the KB of each. Images are decoded in child processes,
        and bytes already decoded once in this run are known by hash."""
        digests: dict[str, str] = {}
        kb = []
        todo: dict[str, bytes] = {}
        for fp in self.new_sink_files():
            rel = os.path.relpath(fp, self.sink).split(os.sep)
            parts = dict(seg.split("=", 1) for seg in rel[:-1])
            for r in pa_parquet.read_table(fp, columns=["nama_file", "content_out"]).to_pylist():
                key = f"{parts['kode_proyek']}|{parts['minggu']}|{r['nama_file']}"
                digests[key] = hashlib.sha256(r["content_out"]).hexdigest()
                if digests[key] not in self._decoded:
                    todo[digests[key]] = r["content_out"]
                kb.append(round(len(r["content_out"]) / 1024.0, 2))
        dims = map_in_processes(decoded_dims, list(todo.values()), os.cpu_count() or 1)
        self._decoded.update(zip(todo, dims))
        got = {k: self._decoded[d] for k, d in digests.items()}
        want = {k: list(v) for k, v in self.truth["committed"].items()}
        if got != want:
            bad = sorted(k for k in want.keys() | got.keys() if got.get(k) != want.get(k))
            raise CheckFailed(f"committed images differ at {bad[:5]}: "
                              f"{[(got.get(k), want.get(k)) for k in bad[:5]]}")
        return kb

    # -- reads of the committed catalog -----------------------------------
    def catalog_queries(self, spark) -> dict[str, float]:
        """Seconds of each read a catalog user makes after the commit,
        each result checked outside its timed part: photos and KB per
        project-week over the whole catalog, and the new week's photo
        list."""
        week = next(iter(self.truth["committed"])).split("|")[1]
        t0 = time.perf_counter()
        by_week = (self.fmt.read(spark, self.catalog)
                   .groupBy("kode_proyek", "minggu")
                   .agg(F.count(F.lit(1)).alias("n"), F.sum("size_gambar_kb").alias("kb"))
                   .collect())
        t1 = time.perf_counter()
        week_photos = (self.fmt.read(spark, self.catalog)
                       .filter(F.col("minggu") == week)
                       .select("kode_proyek", "minggu", "nama_file").collect())
        secs = {"by_week": t1 - t0, "week_photos": time.perf_counter() - t1}
        groups = {f"{r['kode_proyek']}|{r['minggu']}": r["n"] for r in by_week}
        if groups != self.truth["groups"]:
            raise CheckFailed("catalog photos per project-week differ from the truth")
        names = sorted("|".join(r) for r in week_photos)
        if names != sorted(self.truth["committed"]):
            raise CheckFailed(f"week {week} lists {len(names)} photos, "
                              f"expected {len(self.truth['committed'])}")
        return secs

    # -- traced pass ------------------------------------------------------
    def traced_pass(self, spark, tracer) -> tuple[PassOutput, dict]:
        """The pass with every stage called and materialized on its own.
        Returns the output and the per-span counts."""
        counts: dict = {}
        pinned = []

        def mat(df):
            df = df.persist()
            pinned.append(df)
            df.count()
            return df

        with tracer.span("pass") as root:
            with tracer.span("sources.read_excel"):
                forms = mat(read_excel(spark, self.export))
                counts["sources.forms_rows"] = forms.count()
            with tracer.span("sinks.txlog_read"):
                catalog = mat(self.fmt.read(spark, self.catalog))
                counts["sinks.txlog_versions"] = len(self.fmt.versions(self.catalog))
            with tracer.span("sources.read_binary_dir"):
                files = mat(self.staged_files(spark))
                counts["sources.bytes_read"] = files.agg(F.sum("length")).first()[0] or 0
            with tracer.span("etl.unpivot"):
                photos = mat(etl.unpivot_photos(forms))
            with tracer.span("etl.antijoin"):
                fresh = mat(etl.new_photos(photos, catalog))
            with tracer.span("etl.attach_folder"):
                mapped = mat(etl.attach_folder(fresh, etl.folder_map_df(spark)))
            with tracer.span("etl.resolve"):
                resolved = mat(etl.resolve_local_files(mapped, files.select("file_name")))
                records = etl.build_records(resolved)
            out = self._commit_stages(records, files, tracer)
        # outside the pass: from the stages it pinned
        counts.update({f"etl.{k}": v for k, v in funnel_counts(photos, fresh, mapped, resolved).items()})
        for df in pinned:
            df.unpersist()
        counts.update({
            "multimodal.images": out.status.get("ok", 0),
            "multimodal.unreadable": out.status.get("unreadable", 0),
            "sinks.files_written": out.files_written,
            "sinks.bytes_written": out.bytes_written,
        })
        out.seconds = root.duration
        return out, counts


def decoded_dims(data: bytes) -> list[int] | None:
    """[w, h] of a full decode of a committed JPEG or PNG; None if it
    does not decode or disagrees with its header. Runs in a child
    interpreter."""
    is_jpeg = data[:2] == b"\xff\xd8"
    dims = jpeg.jpeg_dims(data) if is_jpeg else png.png_dims(data)
    arr = jpeg.jpeg_decode(data) if is_jpeg else png.png_decode(data)
    if arr is None or dims is None or (arr.shape[1], arr.shape[0]) != tuple(dims):
        return None
    return [arr.shape[1], arr.shape[0]]


# ---------------------------------------------------------------------------
# the codec kernel, called directly (outside Spark)
# ---------------------------------------------------------------------------
def kernel_one(path: str) -> list[float]:
    """[seconds, input megapixels] of decode -> resize -> encode of one
    file through the package's codec functions, as the compress UDF
    does it. Runs in a child interpreter."""
    with open(path, "rb") as f:
        data = f.read()
    t0 = time.perf_counter()
    is_png = data[:4] == b"\x89PNG"
    arr = png.png_decode(data) if is_png else jpeg.jpeg_decode(data)
    if arr is None:
        return [time.perf_counter() - t0, 0.0]
    h, w = arr.shape[:2]
    if max(w, h) > MAX_DIM:
        arr = bmp.nn_resize(arr, *capped_dims(w, h, MAX_DIM))
    _ = png.png_encode(arr) if is_png else jpeg.jpeg_encode(arr, JPEG_QUALITY)
    return [time.perf_counter() - t0, w * h / 1e6]


def kernel_profile(paths: list[str], procs: int) -> tuple[float, float]:
    """(core seconds, ms per input megapixel) of the codec kernel over
    ``paths`` in at most ``procs`` processes."""
    res = map_in_processes(kernel_one, paths, procs)
    core_s = sum(t for t, _ in res)
    mpix = sum(m for _, m in res)
    return core_s, (1000.0 * core_s / mpix if mpix else 0.0)


class EtlWorkload:
    has_shared_build = False

    def __init__(self, src: str, run_dir: str):
        self.src = src
        self.job = EtlJob(src, run_dir)
        self.kb: list[float] = []
        self.passes = 0

    def shared_build(self, spark) -> None:
        pass

    def final_check(self, spark) -> None:
        """The funnel counts, once per untraced run: every pass reads the
        same inputs, and each pass's outputs are checked on their own."""
        self.job.check_funnel(self.job.funnel(spark))

    def warmup(self, spark) -> None:
        self.job.restore()
        self.job.run_pass(spark)
        self.job.catalog_queries(spark)
        self.job.restore()

    def tracer(self, spark, i: int):
        return trace.Tracer(trace.job_group_setter(spark), prefix=f"p{i}.")

    def timed(self, spark, tracer=None):
        """One pass, on the next new-week label in turn."""
        self.job.use(self.passes % NEW_WEEKS)
        self.passes += 1
        self.job.restore()
        if tracer is not None:
            out, counts = self.job.traced_pass(spark, tracer)
            self.job.check_funnel({k: counts[f"etl.{k}"] for k in FUNNEL})
            self.job.check(out)
            return {"s": out.seconds, "images": out.status.get("ok", 0), "counts": counts}
        out = self.job.run_pass(spark)
        self.kb = self.job.check(out) or self.kb
        return {"s": out.seconds, "images": out.status.get("ok", 0),
                "reads": self.job.catalog_queries(spark)}

    def e2e_metrics(self, samples, details) -> dict:
        secs = [s["s"] for s in samples]
        # The image count is fixed, so this restates pass_p50_s as a rate.
        rates = [s["images"] / s["s"] for s in samples]
        reads = {n: [s["reads"][n] for s in samples] for n in samples[0]["reads"]}
        details["photos_per_s"] = stats.summary(rates)
        details["catalog_read_s"] = {n: stats.summary(v) for n, v in reads.items()}
        return {
            "pass_p50_s": metric(stats.median(secs), "s"),
            "photos_per_s": metric(stats.median(rates), "1/s"),
            "out_kb_per_photo": metric(sum(self.kb) / len(self.kb), "KB"),
            "query_geomean_s": metric(stats.geomean([stats.median(v) for v in reads.values()]),
                                      "s"),
        }

    def details(self, samples) -> dict:
        return {"pass_s": stats.summary([s["s"] for s in samples]),
                "truth": {k: v for k, v in self.job.truths[0].items()
                          if k not in ("committed", "groups")}}

    def layer_metrics(self, untraced, traced_runs, groups) -> dict:
        per_pass = []
        for sample, tr in traced_runs:
            root = next(sp for sp in tr.spans if sp.name == "pass")
            st = trace.self_time_by_name(tr.spans, root)
            v = zero_layers()
            for name in ("sources.read_excel", "sources.read_binary_dir", "sinks.txlog_read",
                         "sinks.write_partitioned", "sinks.txlog_commit", "etl.unpivot",
                         "etl.antijoin", "etl.attach_folder", "etl.resolve",
                         "multimodal.compress"):
                v[f"{name}_s"] = st.get(name, 0.0)
            v.update(sample["counts"])
            comp = [groups[sp.group] for sp in tr.spans
                    if sp.name == "multimodal.compress" and sp.group in groups]
            v["multimodal.python_s"] = sum(g["python_run"] for g in comp) * MS
            v["multimodal.python_start_s"] = sum(g["python_boot"] + g["python_init"]
                                                 for g in comp) * MS
            v["multimodal.arrow_bytes"] = sum(g["python_sent_bytes"] + g["python_recv_bytes"]
                                              for g in comp)
            v["multimodal.task_skew"] = max((trace.task_skew(g) for g in comp), default=0.0)
            v["trace.span_coverage"] = trace.coverage(tr.spans, root)
            v["pass_s"] = sample["s"]
            per_pass.append(v)
        out = {k: stats.median([p[k] for p in per_pass]) for k in LAYER_METRICS}
        last = per_pass[-1]
        for k in LAYER_METRICS:  # counts are exact: the last pass's, not a median
            if LAYER_METRICS[k] in ("count", "B") and k in last:
                out[k] = last[k]
        unp = out["etl.unpivoted"]
        attempted = unp - out["etl.catalog_skipped"] - out["etl.map_miss"]
        out["etl.skip_ratio"] = out["etl.catalog_skipped"] / unp if unp else 0.0
        out["etl.resolve_useful_ratio"] = (
            (out["etl.resolved_exact"] + out["etl.resolved_fuzzy"]) / attempted if attempted else 0.0)
        staged = os.path.join(self.src, "staging")
        paths = sorted(os.path.join(staged, f) for f in os.listdir(staged)) if out["multimodal.images"] else []
        cores = os.cpu_count() or 1
        core_s, ms_mpix = kernel_profile(paths, cores)
        out["multimodal.kernel_core_s"] = core_s
        out["multimodal.kernel_ms_per_mpix"] = ms_mpix
        comp_s = out["multimodal.compress_s"]
        out["multimodal.parallel_efficiency"] = core_s / (comp_s * cores) if comp_s and core_s else 0.0
        out["trace.overhead_s"] = (stats.median([p["pass_s"] for p in per_pass])
                                   - stats.median([s["s"] for s in untraced]))
        return with_units(out)
