"""``render`` workload: GPX files on disk → ``{z}/{x}/{y}.png`` pyramid
through the CLI entry point, which is what a user of the engine runs.

Inputs: the seed modulo ``INPUT_SETS`` picks one of 64 disjoint ranges
of corpus doc ids (a corpus doc is a pure function of its id, so every
range has the same hot-corridor mix); each ``gpx`` span of each doc
becomes one ``.gpx`` file.  Each range has a recorded reference digest
(``golden.py``); checking an unrecorded range against a reference render
made during the run would add about 20 s to it.

Timed operation: ``cli.main(["-z", zmin, "-Z", zmax, "-C", <fresh dir>,
*files], spark=spark)``, repeated closed-loop into fresh directories.

Checks, outside the timed window:
- the warm-up output: every PNG decodes to 256×256 RGBA; every tile
  ``operators.tiles.tile_point_counts`` reports exists on disk; the
  digest of the decoded pixels of the whole pyramid equals the digest
  of the repository's reference render for the same inputs (the
  per-tile sequential cogroup fold, which never goes through the CLI,
  the file source, the partition fold or the file sink);
- every timed output: the same tile set with the same decoded pixels
  as the checked warm-up output.
- traced runs: the TileStore built from the same documents in batches
  ends decode-equal to the one-shot render (:meth:`Render.traced_store`).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import statistics
import time

from harness import OpLog, group_total

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "golden_digests.json")
INPUT_SETS = 64


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _tile_digest(item: tuple[tuple[int, int, int], bytes]) -> tuple[bytes, str]:
    from gpx2tiles_spark.pngcodec import decode_png

    key, png = item
    try:
        px = decode_png(png)
    except Exception as e:  # noqa: BLE001 — a failed check
        return hashlib.sha256(repr(key).encode()).digest(), \
            f"tile {key} does not decode: {e}"
    err = "" if px.shape == (256, 256, 4) else f"tile {key} decodes to {px.shape}"
    return hashlib.sha256(repr(key).encode() + px.tobytes()).digest(), err


class Render:
    name = "render"

    def __init__(self, spark, work: str, seed: int, n_docs: int = 48,
                 zoom_max: int = 18):
        from gpx2tiles_spark.config import EngineConfig

        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_docs = n_docs
        self.cfg = EngineConfig(zoom_min=1, zoom_max=zoom_max)
        self.gpx_dir = os.path.join(work, "gpx")
        self.files: list[str] = []
        self.ref_dir = os.path.join(work, "out-warmup")
        self.ref_errors: list[str] = []
        self.expected = ""  # reference pyramid digest, set by check_warmup
        self.sizes: dict = {}
        self.inject_fault = False  # self-test: damage one output tile

    # -- inputs --------------------------------------------------------
    def doc_start(self) -> int:
        return 1_000_000 + (self.seed % INPUT_SETS) * self.n_docs

    def write_inputs(self) -> float:
        from gpx2tiles_spark.corpus import generate_document

        t0 = time.perf_counter()
        shutil.rmtree(self.gpx_dir, ignore_errors=True)
        os.makedirs(self.gpx_dir)
        files = []
        start = self.doc_start()
        for i in range(start, start + self.n_docs):
            for k, span in enumerate(generate_document(i)):
                if span["kind"] != "gpx":
                    continue
                p = os.path.join(self.gpx_dir, f"doc{i:08d}_{k:02d}.gpx")
                with open(p, "w") as f:
                    f.write(span["text"])
                files.append(p)
        self.files = files
        return time.perf_counter() - t0

    def setup_inputs(self, reps: int = 3) -> float:
        return statistics.median(self.write_inputs() for _ in range(reps))

    # -- the operation -------------------------------------------------
    def argv(self, out: str) -> list[str]:
        return ["-z", str(self.cfg.zoom_min), "-Z", str(self.cfg.zoom_max),
                "-C", out, *self.files]

    def render_into(self, out: str) -> None:
        from gpx2tiles_spark import cli

        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        rc = cli.main(self.argv(out), spark=self.spark)
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")

    def warmup(self) -> None:
        self.render_into(self.ref_dir)

    def op(self, i: int) -> None:
        self.render_into(os.path.join(self.work, f"out-{i:04d}"))

    # -- checks --------------------------------------------------------
    @staticmethod
    def tile_files(root: str) -> dict[tuple[int, int, int], str]:
        out = {}
        for d, _, names in os.walk(root):
            for n in names:
                rel = os.path.relpath(os.path.join(d, n), root)
                parts = rel[:-len(".png")].split(os.sep)
                if n.endswith(".png") and len(parts) == 3:
                    out[tuple(int(p) for p in parts)] = os.path.join(d, n)
        return out

    @staticmethod
    def pixel_digest(pngs: dict[tuple[int, int, int], bytes]
                     ) -> tuple[str, list[str]]:
        """Digest of the decoded pixels of a pyramid (independent of the
        PNG encoding) plus the tiles that fail to decode to 256×256 RGBA."""
        h, errors = hashlib.sha256(), []
        for digest, err in map(_tile_digest, sorted(pngs.items())):
            h.update(digest)
            if err:
                errors.append(err)
        return h.hexdigest(), errors

    def documents(self):
        """The CLI's documents table built in the driver (same doc ids
        and painter order as the file source, without the file source)."""
        from gpx2tiles_spark.corpus import SPANS_SCHEMA

        rows = []
        for i, p in enumerate(self.files):
            with open(p) as f:
                text = f.read()
            rows.append((f"{i:08d}:{os.path.abspath(p)}",
                         [("gpx", text, None, 0)]))
        return self.spark.createDataFrame(rows, SPANS_SCHEMA)

    def reference_pngs(self) -> dict[tuple[int, int, int], bytes]:
        from gpx2tiles_spark.operators import raster
        from gpx2tiles_spark.operators.events import build_events
        from gpx2tiles_spark.operators.parse import parse_documents

        points = parse_documents(self.documents()).persist()
        try:
            empty = self.spark.createDataFrame(
                [], "z int, tx int, ty int, point_cnt long, png binary")
            tiles = raster._rasterize_cogroup(
                build_events(points, self.cfg), self.cfg, empty)
            return {(r.z, r.tx, r.ty): bytes(r.png)
                    for r in tiles.select("z", "tx", "ty", "png").collect()}
        finally:
            points.unpersist()

    def golden_key(self) -> str:
        return (f"docs={self.n_docs},z={self.cfg.zoom_min}-{self.cfg.zoom_max}"
                f",seed={self.seed % INPUT_SETS}")

    def expected_digest(self) -> tuple[str, str, list[str]]:
        """The reference pyramid digest for these inputs: recorded in
        ``golden_digests.json`` for the full-size inputs (``golden.py``
        computes them with :meth:`reference_pngs`), else computed now.
        Returns (digest, where it came from, reference decode errors)."""
        with open(GOLDEN) as f:
            golden = json.load(f)
        if self.golden_key() in golden:
            return golden[self.golden_key()], "golden digest", []
        digest, errors = self.pixel_digest(self.reference_pngs())
        return digest, "reference render", [f"reference render: {e}"
                                             for e in errors]

    def check_warmup(self) -> None:
        """Full check of the warm-up output; sets ``ref_errors``."""
        from gpx2tiles_spark.operators.parse import parse_documents
        from gpx2tiles_spark.operators.tiles import tile_point_counts

        on_disk = self.tile_files(self.ref_dir)
        pngs = {k: _read(p) for k, p in on_disk.items()}
        points = parse_documents(self.documents()).persist()
        try:
            counted = tile_point_counts(points, self.cfg).persist()
            keys = {(r.z, r.tx, r.ty)
                    for r in counted.select("z", "tx", "ty").collect()}
            agg = counted.groupBy().sum("point_cnt").collect()[0][0]
            n_points = points.count()
            counted.unpersist()
        finally:
            points.unpersist()
        digest, errors = self.pixel_digest(pngs)
        expected, source, ref_errors = self.expected_digest()
        self.expected = expected
        errors += ref_errors
        missing = keys - on_disk.keys()
        if missing:
            errors.append(f"{len(missing)} counted tiles missing on disk, "
                          f"e.g. {sorted(missing)[:3]}")
        if digest != expected:
            errors.append(f"pyramid pixel digest differs from the {source}")
        self.ref_errors = errors
        self.sizes = {
            "docs": self.n_docs, "doc_start": self.doc_start(),
            "files": len(self.files), "points": n_points,
            "tiles": len(on_disk), "tile_assignments": int(agg or 0),
            "png_mb": sum(len(b) for b in pngs.values()) / 2**20,
            "zooms": [self.cfg.zoom_min, self.cfg.zoom_max],
            "digest": digest, "digest_checked_against": source,
        }

    def check_op(self, i: int) -> list[str]:
        """Compare timed output ``i`` with the checked warm-up output,
        then delete it."""
        out = os.path.join(self.work, f"out-{i:04d}")
        try:
            if self.inject_fault:
                self.inject_fault = False
                victim = sorted(self.tile_files(out).values())[0]
                with open(victim, "r+b") as f:
                    f.seek(40)
                    f.write(b"\xff\x00\xff\x00")
            ref, got = self.tile_files(self.ref_dir), self.tile_files(out)
            if ref.keys() != got.keys():
                return [f"op {i}: tile set differs from the warm-up output"]
            changed = [k for k in got if _read(got[k]) != _read(ref[k])]
            if not changed:
                return []
            # bytes may differ where pixels do not (another encoding)
            da, errors = self.pixel_digest({k: _read(got[k]) for k in changed})
            db, _ = self.pixel_digest({k: _read(ref[k]) for k in changed})
            return errors or ([] if da == db else
                              [f"op {i}: {len(changed)} tiles' pixels differ"])
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def failures(self, log: OpLog, n_ops: int) -> tuple[int, list[str]]:
        bad = {i for i, _ in log.errors}
        notes = [f"op {i}: {e}" for i, e in log.errors]
        for i in range(n_ops):
            errs = self.check_op(i)
            notes += errs
            if errs or self.ref_errors:
                bad.add(i)
        return len(bad), self.ref_errors + notes

    def attempted(self, n_ops: int) -> int:
        return n_ops

    def detail(self) -> dict:
        return {}

    # -- traced run ----------------------------------------------------
    def traced(self, stage) -> tuple[dict, list[tuple[str, list[str]]]]:
        """One render with every layer called through its public function
        and materialized at its boundary, then the TileStore layers
        (:meth:`traced_store`); ``stage(name, fn)`` tags and times each
        call.  Returns the layer counters and the checked extra
        operations as (name, errors)."""
        from pyspark.sql import functions as F

        from gpx2tiles_spark.operators import raster
        from gpx2tiles_spark.operators.events import build_events
        from gpx2tiles_spark.operators.parse import parse_documents
        from gpx2tiles_spark.pngcodec import decode_png, encode_png
        from gpx2tiles_spark.sources.gpxfiles import read_gpx_file_list

        out = os.path.join(self.work, "out-traced")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)

        def materialize(df):
            df = df.persist()
            return df, df.count()

        # the fold's partition count as the untraced render derives it: at
        # plan time, with no cache below it materialized yet
        cfg = dataclasses.replace(self.cfg, fold_partitions=raster._fold_partitions(
            build_events(parse_documents(read_gpx_file_list(
                self.spark, self.files)), self.cfg), self.cfg))
        docs, n_files = stage("sources", lambda: materialize(
            read_gpx_file_list(self.spark, self.files)))
        points, n_points = stage("parse", lambda: materialize(
            parse_documents(docs)))
        events, n_events = stage("events", lambda: materialize(
            build_events(points, cfg)))
        prep, _ = stage("exchange", lambda: materialize(
            raster.prepared_events(events, cfg)))
        tiles, n_tiles = stage("fold", lambda: materialize(
            prep.mapInPandas(raster.partition_folder(cfg),
                             raster.TILES_SCHEMA)))
        stage("sink", lambda: raster.write_tile_pyramid(tiles, out))

        # probes below are not part of the render and are not tagged
        part_rows = [r["count"] for r in
                     prep.groupBy(F.spark_partition_id().alias("p"))
                     .count().collect()]
        sample = prep.filter(F.spark_partition_id() == 0).toPandas()
        t0 = time.perf_counter()
        for _ in raster.partition_folder(cfg)(iter([sample])):
            pass
        kernel_s = time.perf_counter() - t0
        pngs = [bytes(r.png) for r in tiles.select("png").collect()]
        # the codec timed over an even sample of about 200 output tiles
        sampled = pngs[::max(1, len(pngs) // 200)]
        t0 = time.perf_counter()
        canvases = [decode_png(b) for b in sampled]
        decode_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for c in canvases:
            encode_png(c)
        encode_s = time.perf_counter() - t0
        on_disk = self.tile_files(out)
        sink_bytes = sum(os.path.getsize(p) for p in on_disk.values())
        for df in (docs, points, events, prep, tiles):
            df.unpersist()
        shutil.rmtree(out, ignore_errors=True)
        mean_rows = sum(part_rows) / max(1, len(part_rows))
        counters = {
            "sources.files": n_files,
            "parse.points": n_points,
            "events.rows": n_events,
            "events.per_point": n_events / max(1, n_points),
            "exchange.partitions": cfg.fold_partitions,
            "exchange.skew": max(part_rows, default=0) / max(1.0, mean_rows),
            "fold.tiles": n_tiles,
            "fold.events_per_tile": n_events / max(1, n_tiles),
            "fold.kernel_us_per_event": kernel_s * 1e6 / max(1, len(sample)),
            "png.encode_ms_per_tile": encode_s * 1e3 / max(1, len(sampled)),
            "png.decode_ms_per_tile": decode_s * 1e3 / max(1, len(sampled)),
            "png.bytes_per_tile": sum(map(len, pngs)) / max(1, len(pngs)),
            "sink.files": len(on_disk),
            "sink.mb": sink_bytes / 2**20,
        }
        store_counters, store_errors = self.traced_store(stage)
        counters.update(store_counters)
        return counters, [("store", store_errors)]

    def traced_store(self, stage) -> tuple[dict, list[str]]:
        """The ``streaming.incremental`` TileStore over the same documents,
        in painter order: a base batch of the first five sixths of the
        files through ``apply_batch`` (``store.base``), one delta of the
        last sixth split into the steps ``apply_batch`` runs, each
        materialized (``store.parse``, ``store.current``,
        ``store.rasterize``, ``store.commit``), then a compaction
        (``store.compact``).

        Check: the final ``current()`` is decode-equal to the one-shot
        render of the same documents (the reference digest of this seed).
        Returns the store counters and the check errors."""
        import math

        from pyspark.sql import functions as F

        from gpx2tiles_spark.operators import raster
        from gpx2tiles_spark.operators.events import build_events
        from gpx2tiles_spark.operators.parse import parse_documents
        from gpx2tiles_spark.streaming.incremental import TileStore

        root = os.path.join(self.work, "store")
        shutil.rmtree(root, ignore_errors=True)
        store = TileStore(self.spark, root)
        docs = self.documents()
        n = len(self.files)
        cut = n * 5 // 6

        def batch(lo: int, hi: int):
            doc_id = F.col("doc_id")
            return docs.filter((doc_id >= f"{lo:08d}") & (doc_id < f"{hi:08d}"))

        def materialize(df):
            df = df.persist()
            return df, df.count()

        stage("store.base", lambda: store.apply_batch(
            "base", batch(0, cut), self.cfg))
        points, n_points = stage("store.parse", lambda: materialize(
            parse_documents(batch(cut, n))))
        # the fold partition count apply_batch derives from the batch size
        conf_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        cfg = dataclasses.replace(self.cfg, fold_partitions=max(1, min(
            conf_parts, math.ceil(n_points * len(self.cfg.zooms()) / 20_000))))
        cur, n_store = stage("store.current", lambda: materialize(
            store.current()))
        updated, n_touched = stage("store.rasterize", lambda: materialize(
            raster.rasterize(build_events(points, cfg), cfg, store=cur.select(
                "z", "tx", "ty", "point_cnt", "png"))))
        # the commit step alone; apply_batch has no public split of it
        entry = stage("store.commit", lambda: store._commit("delta", updated))
        snap = os.path.join(root, entry["path"])
        snapshot_mb = sum(os.path.getsize(os.path.join(d, f))
                          for d, _, names in os.walk(snap)
                          for f in names) / 2**20
        live = len(store.manifest()["snapshots"])
        stage("store.compact", store.compact)

        # probes: store tiles the Python stages receive — every store tile
        # at canvas-reading zooms (the cogroup) and the touched ones below
        # (the overlay join)
        split = raster._canvas_read_z(cfg)
        pulled = (cur.filter(F.col("z") >= split).count()
                  + updated.filter(F.col("z") < split).count())
        final = {(r.z, r.tx, r.ty): bytes(r.png) for r in
                 store.current().select("z", "tx", "ty", "png").collect()}
        for df in (points, cur, updated):
            df.unpersist()
        shutil.rmtree(root, ignore_errors=True)
        digest, errors = self.pixel_digest(final)
        if digest != self.expected:
            errors.append("store: final current() pixels differ from the "
                          "one-shot render of the same documents")
        return {
            "store.tiles": n_store,
            "store.touched_tiles": n_touched,
            "store.live_snapshots": live,
            "store.snapshot_mb_per_batch": snapshot_mb,
            "store.useful_tile_ratio": n_touched / max(1, pulled),
        }, errors

    def layer_metrics(self, walls: dict, groups: dict, counters: dict) -> dict:
        m = dict(counters)
        m["sources.read_s"] = walls["sources"]
        for layer in ("parse", "events", "exchange", "fold", "sink"):
            m[f"{layer}.s"] = walls[layer]
        m["exchange.shuffle_mb"] = group_total(groups, ["exchange"],
                                               "shuffle_mb")
        m["fold.task_s"] = group_total(groups, ["fold"], "task_s")
        # building and planning the event union in the driver
        m["events.driver_s"] = walls["events"] - group_total(
            groups, ["events"], "jobs_wall_s")
        delta = [f"store.{step}" for step in
                 ("parse", "current", "rasterize", "commit")]
        for name in ["store.base", *delta, "store.compact"]:
            m[f"{name}_s"] = walls[name]
        m["store.delta_s"] = sum(walls[name] for name in delta)
        # includes the count jobs that materialize the staged steps
        m["store.jobs_per_batch"] = group_total(groups, delta, "jobs")
        return m

    def layer_names(self) -> list[str]:
        """The tagged stages that make up one render (``trace.layers_s``)."""
        return ["sources", "parse", "events", "exchange", "fold", "sink"]
