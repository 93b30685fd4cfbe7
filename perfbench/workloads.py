"""The benchmark's workloads. Each is a closed loop with one caller: a
call waits for the previous one, as `SpatialPipeline.update` and the
JSON-RPC tool server are used.

A workload has three phases, called in order by run.py:
  setup(run)   -- inputs from the seed; everything before the first timed op
  measure(run) -- timed ops until `run.seconds` have passed
  check(run)   -- untimed output checks after the window

Every timed or checked call is counted in `run.attempted`; a call that
raises or fails its output check is counted in `run.failed`.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ariadne_spark.functions.fingerprint import df_fingerprint
from ariadne_spark.functions.phash import np_phash_from_bytes
from ariadne_spark.synth.images import generate_rows
from ariadne_spark.synth.regions import generate_regions

from harness import tail_note, wrap_methods

# the SpatialPipeline tables compared against the cold full_build
TABLES = ["images_indexed", "pip", "knn", "tiles_fine", "tiles_coarse", "id_index"]

# SnapshotStore methods recorded as spans in the traced run
STORE_METHODS = [
    "completed", "lineage", "log_lineage", "read", "manifest",
    "current_snapshot_id", "diff", "overwrite_partitions", "write_table",
    "compact", "expire_snapshots",
]


def write_parts(table: pa.Table, path: str, n_files: int) -> None:
    """Write `table` as n_files parquet files, so scans split across cores."""
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), f"{path}/part-{k:03d}.parquet")


def phash_us_per_image(blobs: list[bytes], fmts: list[str]) -> float:
    """Direct single-process phash kernel time per image (median of 3)."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        for b, f in zip(blobs, fmts):
            np_phash_from_bytes(b, f)
        times.append((time.perf_counter() - t0) / len(blobs) * 1e6)
    return statistics.median(times)


def kernel_sample(table: pa.Table, seed: int, n: int = 200) -> tuple[list, list]:
    idx = np.random.default_rng(seed).choice(table.num_rows, n, replace=False)
    sample = table.take(pa.array(idx))
    return sample.column("bytes").to_pylist(), sample.column("fmt").to_pylist()


class PipelineBatch:
    """The five flagship stages (decode+phash verify, pip_join,
    knn_edges, build_pyramid, rasterize_tiles) over a seeded images
    table. One op is one stage; one pass runs all five. Each stage's
    output is materialised by `df_fingerprint` (a full aggregation, no
    row collect), which is also its correctness evidence: decode_phash
    yields no phash mismatches, and every stage gives the same
    fingerprint on every pass.

    There is no warm-up: the first timed pass is the cold batch job
    that a spark-submit of the pipeline runs, JVM JIT and Python worker
    start included."""

    name = "pipeline_batch"
    N_IMAGES = 4000
    STAGES = ["decode_phash", "pip_join", "knn", "tile_pyramid", "rasterize"]

    def setup(self, run) -> None:
        from pyspark.sql import functions as F

        from ariadne_spark.functions.phash import phash_udf
        from ariadne_spark.operators.knn import knn_edges
        from ariadne_spark.operators.pip import pip_join
        from ariadne_spark.operators.tiles import build_pyramid, rasterize_tiles

        spark = run.spark
        base = 1_000 + (run.seed % 20_000) * self.N_IMAGES
        with run.tracer.span("synth"):
            table = generate_rows(np.arange(base, base + self.N_IMAGES, dtype=np.int64))
            path = os.path.join(run.dir, "images")
            write_parts(table, path, 2 * run.cores)
            # geometry-only stages scan a blob-free copy, spread over
            # cores * 3 files as bench.py spreads its persisted copy
            meta_path = os.path.join(run.dir, "meta")
            write_parts(table.drop(["bytes"]), meta_path, 3 * run.cores)
        run.kernel_blobs = kernel_sample(table, run.seed)

        images = spark.read.parquet(path)
        meta = spark.read.parquet(meta_path)
        regions = generate_regions()
        self.builders = {
            # rows whose stored phash the decoded payload does not
            # reproduce: a correct stage yields none
            "decode_phash": lambda: images.select(
                "image_id", "phash", phash_udf(F.col("bytes"), F.col("fmt")).alias("recomputed")
            ).where(F.col("phash") != F.col("recomputed")),
            "pip_join": lambda: pip_join(meta, regions, deepest_only=True),
            "knn": lambda: knn_edges(meta, k=5, max_hamming=16),
            "tile_pyramid": lambda: build_pyramid(meta, max_z=8),
            "rasterize": lambda: rasterize_tiles(meta, z=5, fmt="png"),
        }
        self.expected = {"decode_phash": [0, 0]}

    def _pass(self, run) -> None:
        with run.tracer.span("pipe.pass"):
            for stage in self.STAGES:
                run.attempted += 1
                try:
                    with run.tracer.span(f"pipe.{stage}", op=True):
                        fp = df_fingerprint(self.builders[stage]())
                except Exception as e:  # a failed op is counted, the loop goes on
                    run.fail(f"{stage}: {type(e).__name__}: {e}")
                    continue
                want = self.expected.setdefault(stage, fp)
                if fp != want:
                    run.fail(f"{stage}: fingerprint {fp} != {want}")

    def measure(self, run) -> None:
        t0 = time.perf_counter()
        while True:
            self._pass(run)
            if time.perf_counter() - t0 >= run.seconds:
                break

    def check(self, run) -> None:
        """Every stage was checked as it ran."""

    def end_to_end(self, tracer) -> tuple[dict, dict]:
        passes = tracer.durations("pipe.pass")
        values = {
            "op_p50_s": statistics.median(passes),
            "throughput_per_s": self.N_IMAGES * len(passes) / sum(passes),
        }
        notes = {
            "op_p50_s": f"median five-stage pass wall (first pass cold), n={len(passes)} passes",
            "throughput_per_s": f"pipeline_images_per_s: {self.N_IMAGES} images x "
                                f"{len(passes)} passes / summed pass wall",
            "op_tail_s": tail_note(passes),
        }
        return values, notes


_IMG_ID = re.compile(r"img_\d+")


class UpdateServe:
    """`full_build` on a seeded store, then rounds of one scattered
    `update()` (CHANGE_IDS seeded ids, phash XOR a seeded mask) followed
    by two tool requests against the just-committed snapshot: a graph
    tool (`neighborhood` or `list_orphans`) and a light read
    (`get_stats` or `read_bbox(...).count()`), the tools answered through
    `ProjectManager.serve_line`.

    A phash change moves only `images_indexed` and `knn`; `pip`, the
    tile tables and `id_index` read no phash. So after the window
    `images_indexed` and `knn` must equal a cold computation over the
    changed image set, and the other tables' committed per-partition
    fingerprints must still equal the cold `full_build`'s."""

    name = "update_serve"
    N_STORE = 1000
    CHANGE_IDS = 20
    ROUND_KINDS = [("neighborhood", "list_orphans"), ("get_stats", "read_bbox")]
    PHASH_FREE = ["pip", "tiles_fine", "tiles_coarse", "id_index"]
    BBOX_HALF_U = 500_000  # half-width of a read_bbox box, microdegrees

    def setup(self, run) -> None:
        from ariadne_spark.manager import ProjectManager

        spark = run.spark
        base = 1_000 + (run.seed % 90_000) * self.N_STORE
        with run.tracer.span("synth"):
            table = generate_rows(np.arange(base, base + self.N_STORE, dtype=np.int64))
            meta = table.drop(["bytes"])
            path = os.path.join(run.dir, "meta")
            write_parts(meta, path, run.cores)
        run.kernel_blobs = kernel_sample(table, run.seed)
        self.rows = meta.to_pandas()  # the image set as the updates leave it
        self.schema = spark.read.parquet(path).schema
        self.root = os.path.join(run.dir, "store")
        self.mgr = ProjectManager(
            spark, self.root, generate_regions(),
            os.path.join(run.dir, "drop"), os.path.join(run.dir, "ckpt"),
        )
        self.pipe = self.mgr.pipeline
        if run.trace:
            wrap_methods(self.pipe.store, STORE_METHODS, run.tracer, "store")
        with run.tracer.span("full_build", op=True):
            self.pipe.full_build(spark.read.parquet(path))
        self.cold = self._manifest_prints()
        self.sources = sorted(self._knn_endpoints(run, sources=True))
        self.endpoints: set[str] | None = None  # of the current knn table
        self.rng = np.random.default_rng(run.seed)
        self.n_requests = 0

    def _knn_endpoints(self, run, sources: bool = False) -> set[str]:
        with run.tracer.span("check.knn_endpoints"):
            rows = self.pipe.store.read("knn").select("src_image_id", "dst_image_id").collect()
        if sources:
            return {r[0] for r in rows}
        return {r[0] for r in rows} | {r[1] for r in rows}

    def measure(self, run) -> None:
        t0 = time.perf_counter()
        while True:
            self._round(run)
            if time.perf_counter() - t0 >= run.seconds:
                break

    def _round(self, run) -> None:
        idx = self.rng.choice(self.N_STORE, self.CHANGE_IDS, replace=False)
        mask = int(self.rng.integers(1, 1 << 16))
        picked = self.rows.iloc[idx]
        changed = run.spark.createDataFrame(
            picked.assign(phash=picked["phash"] ^ mask), self.schema
        )
        self.rows.loc[self.rows.index[idx], "phash"] ^= mask
        self.endpoints = None
        before = _dir_usage(self.root) if run.trace else None
        lineage = os.path.join(self.root, "lineage.jsonl")
        lineage_bytes = os.path.getsize(lineage) if os.path.exists(lineage) else 0
        run.attempted += 1
        try:
            with run.tracer.span("update", op=True, lineage_bytes=lineage_bytes) as s:
                self.pipe.update(changed)
        except Exception as e:  # a failed op is counted, the loop goes on
            run.fail(f"update: {type(e).__name__}: {e}")
        if before is not None:
            after = _dir_usage(self.root)
            s["attrs"]["bytes_written"] = after[0] - before[0]
            s["attrs"]["files_written"] = after[1] - before[1]
        for kinds in self.ROUND_KINDS:
            kind = kinds[int(self.rng.integers(len(kinds)))]
            self.n_requests += 1
            run.attempted += 1
            try:
                problem = self._request(run, kind)
            except Exception as e:  # a failed op is counted, the loop goes on
                problem = f"{type(e).__name__}: {e}"
            if problem:
                run.fail(f"{kind}: {problem}")

    def _request(self, run, kind: str) -> str | None:
        """One timed request; returns a description of what its answer
        got wrong, or None."""
        if kind == "read_bbox":
            c = self.rows.iloc[int(self.rng.integers(self.N_STORE))]
            h = self.BBOX_HALF_U
            box = (int(c.lon_u) - h, int(c.lon_u) + h, int(c.lat_u) - h, int(c.lat_u) + h)
            with run.tracer.span("serve.read_bbox", op=True):
                got = self.pipe.read_bbox(*box).count()
            want = int((self.rows.lon_u.between(box[0], box[1])
                        & self.rows.lat_u.between(box[2], box[3])).sum())
            return None if got == want else f"count {got} != {want}"
        args = {}
        if kind == "neighborhood":
            root = self.sources[int(self.rng.integers(len(self.sources)))]
            args = {"image_id": root}
        elif kind == "list_orphans":
            args = {"limit": 10}
        line = json.dumps({"jsonrpc": "2.0", "id": self.n_requests, "method": "tools/call",
                           "params": {"name": kind, "arguments": args}})
        with run.tracer.span(f"serve.{kind}", op=True):
            reply = self.mgr.serve_line(line)
        resp = json.loads(reply)
        if "error" in resp:
            return f"error {resp['error']}"
        result = resp["result"]
        if kind == "get_stats":
            return None if result["n_images"] == self.N_STORE else f"n_images {result['n_images']}"
        if kind == "list_orphans":
            return None if result.startswith("Orphan images") else "unexpected answer"
        if self.endpoints is None:
            self.endpoints = self._knn_endpoints(run)
        stray = set(_IMG_ID.findall(result)) - {root} - self.endpoints
        return f"ids not in the knn table: {sorted(stray)[:5]}" if stray else None

    def _manifest_prints(self) -> dict:
        """Per table and partition, the (n_rows, fingerprint) the store
        recorded from the data it committed -- no Spark job."""
        store = self.pipe.store
        return {t: {k: (p["n_rows"], p["fingerprint"])
                    for k, p in store.manifest(t).partitions.items()}
                for t in TABLES}

    def check(self, run) -> None:
        from ariadne_spark.operators.knn import knn_edges

        p = self.pipe
        run.attempted += 1
        with run.tracer.span("check.final_state"):
            prints = self._manifest_prints()
            problems = [t for t in self.PHASH_FREE if prints[t] != self.cold[t]]
            want = run.spark.createDataFrame(self.rows, self.schema)
            want_knn = knn_edges(want, k=p.knn_k, max_hamming=p.max_hamming,
                                 res=p.knn_res, salt=p.knn_salt)
            for table, expected in (("images_indexed", want), ("knn", want_knn)):
                got = p.store.read(table)
                cols = [c for c in got.columns if c != "pk"]
                if df_fingerprint(got, cols) != df_fingerprint(expected, cols):
                    problems.append(table)
        if problems:
            run.fail(f"after the updates, {problems} differ from a cold computation")
        if not run.trace:
            return
        # traced runs also time a compaction, which must keep every table
        run.attempted += 1
        try:
            with run.tracer.span("maintain", op=True):
                p.maintain()
        except Exception as e:  # counted as a failed op
            run.fail(f"maintain: {type(e).__name__}: {e}")
            return
        if self._manifest_prints() != prints:
            run.fail("committed partition fingerprints changed in maintain()")

    def end_to_end(self, tracer) -> tuple[dict, dict]:
        updates = tracer.durations("update")
        requests = [s["end"] - s["start"] for s in tracer.spans
                    if s["name"].startswith("serve.")]
        values = {
            "op_p50_s": statistics.median(updates),
            "throughput_per_s": len(requests) / (sum(updates) + sum(requests)),
        }
        notes = {
            "op_p50_s": f"update_p50_s: median update() wall, n={len(updates)} updates",
            "throughput_per_s": f"serve_requests_per_s: {len(requests)} requests / summed "
                                "update and request wall",
            "op_tail_s": f"update_tail_s: {tail_note(updates)}",
            "update_late_p50_s": "not measured: a run holds too short a history",
            "serve_p50_s": f"{statistics.median(requests):.4f} s, n={len(requests)} requests",
            "serve_tail_s": tail_note(requests),
            "full_build_s": f"{tracer.durations('full_build')[0]:.4f} s (part of setup_s)",
        }
        return values, notes


def _dir_usage(root: str) -> tuple[int, int]:
    """(bytes, files) under root."""
    total = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(d, n))
            except OSError:
                continue
            files += 1
    return total, files


WORKLOADS = {w.name: w for w in (PipelineBatch, UpdateServe)}
