"""Per-seed inputs and their ground truth, built once into the work dir
before any Spark session starts.

The seed picks content and names only. Counts and the size mix are
fixed, so every seed does the same work and the expected funnel counts
are exact:

- the photo corpus of one reporting week: ``PROJECTS`` responses of 8
  photo cells, with fixed shares of camera JPEGs above the 1024 px cap,
  small JPEGs, PNGs, fuzzily named files, missing files, a truncated
  (corrupt) JPEG and an empty cell;
- a Forms export (xlsx) carrying every response, past and new;
- a TxLog catalog with one commit per past week (a year of them, so the
  log's checkpoints are replayed), and an empty sink;
- for the query mix, the star-schema tables made by
  ``scripts/gen_testdata.py`` from the seed, and each query's DuckDB
  oracle digest.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import urllib.parse

import numpy as np

PROJECTS = 3
HISTORY_WEEKS = 51  # a year of committed weeks before the new one
# A run cycles its passes through NEW_WEEKS labels of the new week (52,
# 53, 54), one export each. The label is part of the key the pipeline
# hash-partitions the photos by before the compress stage, so each
# label spreads the same photos over the tasks differently, and a run's
# median is not the luck of one placement.
NEW_WEEKS = 3
# The new week's 24 cells (3 responses x 8, the reference's 24 photos
# per run), positions shuffled by seed: 12 camera JPEGs above the
# 1024 px cap (2 of them staged under a decorated name, so only the
# fuzzy match finds them), 6 below it, one PNG above and one below, 2
# files never staged, one truncated JPEG and one empty cell.
WEEK_KINDS = (
    ["big"] * 10 + ["fuzzy"] * 2 + ["small"] * 6 + ["png"] * 2
    + ["missing"] * 2 + ["corrupt"] + ["empty"]
)
# Above the cap: 1280x960 (4:3, 1.2 Mpix), the size the numpy codec
# path was profiled at (0.57-0.80 s per photo on one core of a 4-core
# host). Below it: the reference's recorded shape, 648x490 (all 24
# files of its committed run, BASELINE.md).
BIG_SIZE = (1280, 960)
SMALL_SIZE = (648, 490)
PNG_SIZES = [BIG_SIZE, SMALL_SIZE]
# Not recorded by the reference (it keeps only its q65 outputs): the
# uploads are taken to be phone JPEGs at q90. TEXTURE is set so that a
# 648x490 photo re-encodes at q65 to ~46 KB, the mean output size of
# the reference's recorded run (46.26 KB, BASELINE.md).
CAMERA_QUALITY = 90
TEXTURE = 11.0
QUERY_SF = 0.001
INPUTS_VERSION = 3  # bump when the inputs change, so stale caches are not reused
PROVINCES = ["JAMBI", "RIAU", "MALUKU", "ACEH", "BALI", "PAPUA", "BANTEN", "GORONTALO"]
WORDS = ["kegiatan", "pengecoran", "pemasangan", "besi", "atap", "dinding", "lantai", "pondasi"]


# ---------------------------------------------------------------------------
# pixels
# ---------------------------------------------------------------------------
def camera_pixels(width: int, height: int, seed: int) -> np.ndarray:
    """A smooth scene with a few flat shapes, surface texture and sensor
    noise, whose q65 size matches the reference's photos (``TEXTURE``).
    The seed moves phases, colours, positions and the texture pattern
    only; frequencies, shape sizes and amplitudes are fixed, so encoded
    sizes barely depend on it."""
    rng = np.random.default_rng(seed)
    ys = np.linspace(0, 1, height)[:, None, None]
    xs = np.linspace(0, 1, width)[None, :, None]
    ph = rng.uniform(0, 2 * np.pi, (3, 3))
    a = (
        rng.uniform(80, 170, 3)
        + 40 * np.sin(2 * np.pi * 1.5 * xs + ph[0])
        + 30 * np.cos(2 * np.pi * 2.0 * ys + ph[1])
        + 20 * np.sin(2 * np.pi * 2.5 * (xs + ys) + ph[2])
    )
    a = np.broadcast_to(a, (height, width, 3)).copy()
    for _ in range(10):
        x0, y0 = rng.integers(0, width * 3 // 4), rng.integers(0, height * 3 // 4)
        a[y0:y0 + height // 6, x0:x0 + width // 6] *= 0.5
        a[y0:y0 + height // 6, x0:x0 + width // 6] += rng.integers(0, 256, 3) * 0.5
    # surface texture in 4 px cells: the mid frequencies q65 keeps
    tex = rng.normal(0, TEXTURE, (height // 4 + 1, width // 4 + 1, 1))
    a += np.repeat(np.repeat(tex, 4, 0), 4, 1)[:height, :width]
    a += rng.normal(0, 2.0, a.shape)
    return np.clip(a, 0, 255).astype(np.uint8)


def encode_cell(kind: str, w: int, h: int, seed: int) -> bytes:
    """Bytes of one staged file of ``kind`` 'jpeg', 'png' or 'corrupt'
    (a JPEG cut to its first third, as a broken upload leaves it)."""
    from developing_img_etl_spark.multimodal import jpeg, png

    px = camera_pixels(w, h, seed)
    if kind == "png":
        return png.png_encode(px)
    data = jpeg.jpeg_encode(px, CAMERA_QUALITY)
    return data[: len(data) // 3] if kind == "corrupt" else data


def write_cell(job: list) -> int:
    """Encode one staged file into ``job[0]``; returns its size. Runs in
    a child interpreter."""
    path, *cell = job
    data = encode_cell(*cell)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def capped_dims(w: int, h: int, cap: int = 1024) -> tuple[int, int]:
    """The reference's resize: int-truncated scale to ``cap`` on the
    long side (test.py:52-53), images under the cap unchanged."""
    if max(w, h) <= cap:
        return w, h
    s = cap / float(max(w, h))
    return max(int(w * s), 1), max(int(h * s), 1)


# ---------------------------------------------------------------------------
# the ETL corpus
# ---------------------------------------------------------------------------
def _project_names(rng) -> list[str]:
    codes = set()
    while len(codes) < PROJECTS:
        codes.add("".join(chr(65 + int(c)) for c in rng.integers(0, 26, 5)))
    provs = rng.choice(PROVINCES, PROJECTS, replace=False)
    return [f"{c}_PROVINSI {p}" for c, p in zip(sorted(codes), provs)]


def _desc(rng) -> str | None:
    if rng.random() < 0.15:
        return None
    return " ".join(rng.choice(WORDS, int(rng.integers(2, 5))))


def _cell(rng, kind: str, ext: str = ".jpg") -> dict:
    token = rng.bytes(5).hex()
    shown = f"IMG {token}{ext}"  # as uploaded: a space, URL-encoded below
    return {
        "kind": kind,
        "url": f"https://drive.example.com/forms/{urllib.parse.quote(shown)}",
        "nama_file": shown.replace(" ", "_"),
        "desc": _desc(rng),
    }


def _week_cells() -> list[tuple[str, tuple[int, int] | None]]:
    """(kind, pixel size) of every new-week cell, before shuffling."""
    pngs = iter(PNG_SIZES)
    sizes = {"small": lambda: SMALL_SIZE, "png": lambda: next(pngs), "empty": lambda: None}
    return [(k, sizes.get(k, lambda: BIG_SIZE)()) for k in WEEK_KINDS]


def plan_corpus(seed: int) -> dict:
    """Every response and cell of the export with its ground truth;
    no bytes yet."""
    rng = np.random.default_rng([seed, 7])
    projects = _project_names(rng)
    history = HISTORY_WEEKS
    responses = []
    for week in range(1, history + 1):
        for p in projects:
            empty = int(rng.integers(0, 8))
            cells = [None if i == empty else _cell(rng, "past") for i in range(8)]
            responses.append({"project": p, "week": str(week), "cells": cells, "past": True})

    week_cells = _week_cells()
    order = rng.permutation(len(week_cells))
    week = str(history + 1)
    staged: list[dict] = []
    for pi, p in enumerate(projects):
        cells = []
        for kind, size in (week_cells[i] for i in order[pi * 8:(pi + 1) * 8]):
            if kind == "empty":
                cells.append(None)
                continue
            c = _cell(rng, kind, ".png" if kind == "png" else ".jpg")
            c["seed"] = int(rng.integers(0, 2**31))
            c["w"], c["h"] = size
            if kind != "missing":
                c["file"] = (c["nama_file"].replace(".jpg", "_edited.jpg")
                             if kind == "fuzzy" else c["nama_file"])
                staged.append(c)
            cells.append(c)
        responses.append({"project": p, "week": week, "cells": cells, "past": False})

    return {"projects": projects, "responses": responses, "staged": staged}


def as_week(plan: dict, i: int) -> dict:
    """``plan`` with its new week labelled ``HISTORY_WEEKS + 1 + i``."""
    week = str(HISTORY_WEEKS + 1 + i)
    return dict(plan, responses=[r if r["past"] else dict(r, week=week)
                                 for r in plan["responses"]])


def norm(s: str) -> str:
    """The pipeline's key normalization (trim, space -> underscore)."""
    return s.strip().replace(" ", "_")


COMMITTED = ("big", "small", "png", "fuzzy")  # the cell kinds that end in the catalog


def truth(plan: dict) -> dict:
    """Exact funnel counts and the expected committed images."""
    past = [c for r in plan["responses"] if r["past"] for c in r["cells"] if c]
    new = [(r, c) for r in plan["responses"] if not r["past"] for c in r["cells"] if c]
    kinds = [c["kind"] for _, c in new]
    committed = {
        f"{norm(r['project'])}|{r['week']}|{c['nama_file']}": list(capped_dims(c["w"], c["h"]))
        for r, c in new if c["kind"] in COMMITTED
    }
    groups: dict[str, int] = {}
    for r in plan["responses"]:
        n = sum(1 for c in r["cells"] if c and (r["past"] or c["kind"] in COMMITTED))
        key = f"{norm(r['project'])}|{r['week']}"
        groups[key] = groups.get(key, 0) + n
    return {
        "unpivoted": len(past) + len(new),
        "catalog_skipped": len(past),
        "map_miss": 0,
        "resolved_exact": sum(k in ("big", "small", "png", "corrupt") for k in kinds),
        "resolved_fuzzy": kinds.count("fuzzy"),
        "unresolved": kinds.count("missing"),
        "images": len(committed),
        "unreadable": kinds.count("corrupt"),
        "catalog_rows_before": len(past),
        "catalog_rows_after": len(past) + len(committed),
        "committed": committed,
        "groups": groups,  # catalog rows per "project|week" after the commit
    }


class _Rows:
    """The two members ``sinks.xlsx_writer.write_xlsx`` reads from a
    frame, over plain tuples, so the export is written without Spark."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[tuple]:
        return self._rows


def write_export(plan: dict, path: str) -> None:
    from developing_img_etl_spark.pipeline import etl
    from developing_img_etl_spark.sinks.xlsx_writer import write_xlsx

    cols = ["Timestamp", etl.PROJECT_COL, etl.WEEK_COL, *etl.PHOTO_COLS, *etl.DESC_COLS]
    rows = []
    for i, r in enumerate(plan["responses"]):
        cells = r["cells"]
        rows.append((
            f"2024-01-{1 + i % 28:02d} 08:{i % 60:02d}:00",
            r["project"], r["week"],
            *[c["url"] if c else None for c in cells],
            *[c["desc"] if c else None for c in cells],
        ))
    write_xlsx(_Rows(cols, rows), path)


def write_catalog(plan: dict, path: str, seed: int) -> None:
    """One TxLog commit per past week, written with pyarrow and
    published through the table format's own commit protocol (so its
    log checkpoints are written as a Spark writer would leave them)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from developing_img_etl_spark.pipeline import etl
    from developing_img_etl_spark.sinks import txlog

    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in etl.CATALOG_COLUMNS[:-1]]
        + [T.StructField("size_gambar_kb", T.DoubleType())]
    ).json()
    rng = np.random.default_rng([seed, 11])
    fmt = txlog.TxLogFormat()
    os.makedirs(path, exist_ok=True)
    by_week: dict[str, list] = {}
    for r in plan["responses"]:
        if r["past"]:
            by_week.setdefault(r["week"], []).append(r)
    for week, rs in by_week.items():
        recs = [
            (norm(r["project"]), week,
             f"https://raw.githubusercontent.com/example/repo/main/weekly_photos/"
             f"{norm(r['project'])}/{week}/{c['nama_file']}",
             c["desc"] or "", c["nama_file"], round(float(rng.uniform(20, 80)), 2))
            for r in rs for c in r["cells"] if c
        ]
        table = pa.table(dict(zip(etl.CATALOG_COLUMNS, map(list, zip(*recs)))))
        name = f"data-seed{seed}-week{int(week):03d}.parquet"
        pq.write_table(table, os.path.join(path, name))
        rows, stats = txlog._file_stats(os.path.join(path, name))
        fmt._commit(path, add=[{"path": name, "rows": rows, "stats": stats}],
                    remove=[], schema_json=schema)


def stage_files(plan: dict, staging: str, procs: int) -> None:
    """Encode every staged file, in at most ``procs`` child processes."""
    from .host import map_in_processes

    os.makedirs(staging, exist_ok=True)
    kinds = {"png": "png", "corrupt": "corrupt"}
    jobs = [[os.path.join(staging, c["file"]), kinds.get(c["kind"], "jpeg"), c["w"], c["h"], c["seed"]]
            for c in plan["staged"]]
    map_in_processes(write_cell, jobs, procs)


def build_etl(seed: int, out: str) -> None:
    plan = plan_corpus(seed)
    os.makedirs(out, exist_ok=True)
    weeks = [as_week(plan, i) for i in range(NEW_WEEKS)]
    for i, p in enumerate(weeks):
        write_export(p, os.path.join(out, f"export-{i}.xlsx"))
    write_catalog(plan, os.path.join(out, "catalog"), seed)
    os.makedirs(os.path.join(out, "sink"), exist_ok=True)
    stage_files(plan, os.path.join(out, "staging"), os.cpu_count() or 1)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump([truth(p) for p in weeks], f, indent=1, sort_keys=True)


# ---------------------------------------------------------------------------
# the query mix
# ---------------------------------------------------------------------------
def build_tables(root: str, seed: int, out: str) -> None:
    """The star schema at ``QUERY_SF`` from ``scripts/gen_testdata.py``,
    with the seed in place of its fixed one."""
    spec = importlib.util.spec_from_file_location(
        "gen_testdata", os.path.join(root, "scripts", "gen_testdata.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.SEED = seed
    gen.gen(QUERY_SF, out)


def build_oracles(root: str, names: list[str], tables: str, out: str) -> None:
    """Each query's DuckDB oracle digest over ``tables``."""
    import duckdb

    from developing_img_etl_spark.catalog import TABLES
    from developing_img_etl_spark.queries import all_oracles

    from .digest import frame_digest

    oracles = all_oracles()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        digests = {n: frame_digest(con.execute(oracles[n]).fetchdf()) for n in names}
    finally:
        con.close()
    with open(out, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------
def checksum(path: str) -> str:
    """sha256 over every file's relative path and bytes under ``path``
    (the READY marker excluded)."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            fp = os.path.join(dirpath, name)
            if fp == os.path.join(path, "READY"):
                continue
            h.update(os.path.relpath(fp, path).encode() + b"\0")
            with open(fp, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure(root: str, work: str, workload: str, seed: int, query_names: list[str]) -> str:
    """Build the inputs of (workload, seed) unless cached and return
    their directory. A half-built directory is never reused."""
    out = os.path.join(work, "inputs", f"v{INPUTS_VERSION}-{workload}-seed{seed}")
    if not os.path.exists(os.path.join(out, "READY")):
        shutil.rmtree(out, ignore_errors=True)
        tmp = out + ".building"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if workload == "query_mix":
            build_tables(root, seed, os.path.join(tmp, "tables"))
            build_oracles(root, query_names, os.path.join(tmp, "tables"),
                          os.path.join(tmp, "oracles.json"))
        else:
            build_etl(seed, tmp)
        open(os.path.join(tmp, "READY"), "w").close()
        os.replace(tmp, out)
    return out
