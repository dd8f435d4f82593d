"""The workloads. Each drives the package through its public entry points
(``plans.*``, ``operators.*``, ``streaming.ingest``), checks every measured
operation's output against an independent computation, and, in the traced
run, measures its layers from outside by timing calls into each layer's
public functions.

A workload sets ``warm`` (warm-up operations of an untraced run),
``warm_traced`` (of each phase of a traced run) and ``min_ops`` (measured
operations at the least, then more while the next fits in the window), and
implements ``inputs`` (seeded, cached tables), ``materialize``
(write them in the layout the engine reads), ``op`` (one measured
operation, returning its record), ``check`` (judge every record),
``metrics`` (end-to-end numbers) and ``layers`` (per-layer numbers of the
traced run).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa

import inputs
import reference
from harness import median, tail_percentile

from quadtree_block_compression_spark.functions.cache import release_caches

# the fixture's images-table schema (fixtures.images.IMAGES_SCHEMA)
IMAGES_ARROW = pa.schema([("image_id", pa.string()), ("bytes", pa.binary()),
                          ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
                          ("caption", pa.string()), ("phash", pa.int64())])
TILE_STAGES = ["s1_blocks", "s2_dedup", "s3_centroids", "s4_spatial_join"]
CORPUS_STAGES = ["s1_annotate", "s2_exact_dedup", "s3_near_dedup",
                 "s4_quality_filter"]
LOOKUP_OPERATORS = {"knn": "knn_ring", "pip": "spatial_join_broadcast",
                    "window": "tile_range_scan"}


def noop(df) -> None:
    """Materialize ``df`` without keeping or collecting it."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def write_parquet(df: pd.DataFrame, path: str, files: int = 1, schema=None) -> None:
    """Write ``df`` as ``files`` parquet files under ``path`` (row i in file
    i % files), the way a table of small files lands on disk — with pyarrow,
    so no Spark job runs before the warm-up."""
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    for k in range(files):
        part = pa.Table.from_pandas(df.iloc[k::files], schema=schema,
                                    preserve_index=False)
        pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"),
                       compression="zstd")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


class Run:
    """State of one session's run: the session, the inputs, the tables and
    the outcome of every check."""

    def __init__(self, spark, tracer, workdir: str, tables: dict):
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.inputs = tables
        self.dest = ""
        self.records: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def table(self, name: str):
        return self.spark.read.parquet(os.path.join(self.dest, name))


def _cost_metrics(records: list[dict], work: list[float]) -> dict[str, float]:
    """The gated end-to-end numbers: the median CPU seconds (user + system,
    every process of the run, less the JVM's JIT compiler threads) one
    operation costs, and the median units of work per CPU second."""
    return {"op_cpu_s": median([r["cpu"] for r in records]),
            "work_per_cpu_s": median([w / r["cpu"] for w, r in zip(work, records)])}


def _stage_layers(records: list[dict], stages: list[str]) -> dict[str, float]:
    """Per-stage seconds as each pipeline's own manifest.json records them."""
    return {f"plans.stage_s.{s}": median([r["manifest"][s]["seconds"] for r in records])
            for s in stages}


def _lineage_layers(run: Run, root: str, stages: list[str], input_bytes: int) -> dict:
    from quadtree_block_compression_spark.plans.lineage import partition_lineage
    t = 0.0
    with run.tracer.span("plans.partition_lineage"):
        for s in stages:
            out = run.spark.read.parquet(os.path.join(root, s))
            t += timed(lambda: partition_lineage(out, s).collect())
    written = sum(dir_bytes(os.path.join(root, s)) for s in stages)
    return {"plans.lineage_s": t,
            "plans.bytes_written_per_input_byte": written / max(input_bytes, 1)}


def _time_operators(run: Run, ops: dict) -> dict[str, float]:
    """Each operator on its own, from stage inputs at rest to a noop sink."""
    out = {}
    for name, build in ops.items():
        with run.tracer.span(f"operators.{name}"):
            out[f"operators.{name}_s"] = timed(lambda: noop(build()))
        release_caches()
    return out


def _pip_ratio(cents, geoms, matches: int) -> dict[str, float]:
    """Cell-join candidates of a PIP join per verified match."""
    from quadtree_block_compression_spark.operators.spatial_join import polygons_by_cell
    cand = cents.join(polygons_by_cell(geoms), "cell").count()
    return {"operators.pip_candidates": float(cand),
            "operators.pip_matches": float(matches),
            "operators.pip_candidates_per_match": cand / max(matches, 1)}


def knn_queries(reqs: list[tuple[str, dict]]) -> pd.DataFrame:
    """The (query_id, x, y, k) table of kNN requests, one row per point;
    query ids are ``<request id>_<point>``."""
    return pd.concat([pd.DataFrame({
        "query_id": [f"{qid}_{j}" for j in range(len(r["x"]))],
        "x": r["x"], "y": r["y"], "k": np.asarray(r["k"], dtype="int32")})
        for qid, r in reqs], ignore_index=True)


def lookup_frame(spark, req: dict, qid: str, blocks, cents, geoms):
    """The DataFrame answering one lookup request."""
    from quadtree_block_compression_spark.operators.knn import knn_ring
    from quadtree_block_compression_spark.operators.spatial_join import (
        spatial_join_broadcast)
    from quadtree_block_compression_spark.operators.tile_range import tile_range_scan
    if req["kind"] == "knn":
        return knn_ring(cents, spark.createDataFrame(knn_queries([(qid, req)])))
    if req["kind"] == "pip":
        ids = [f"poly_{p:05d}" for p in req["polygons"]]
        return spatial_join_broadcast(cents, geoms.filter(geoms.geom_id.isin(ids)))
    x0, y0, x1, y1 = req["window"]
    return tile_range_scan(blocks, x0, y0, x1, y1, req["level"]).select(
        "image_id", "tile_id")


def lookup_operator_layers(run: Run, reqs: list[dict], blocks, cents, geoms) -> dict:
    """Each lookup operator on the first request of its kind, materialized
    to a noop sink."""
    out = {}
    for kind, name in LOOKUP_OPERATORS.items():
        req = next(r for r in reqs if r["kind"] == kind)
        with run.tracer.span(f"operators.{name}"):
            out[f"operators.{name}_s"] = timed(lambda: noop(
                lookup_frame(run.spark, req, "probe", blocks, cents, geoms)))
        release_caches()
    return out


class Tiles:
    """``run_quadtree_pipeline`` into a fresh root, timed end to end."""

    unit = "S1 blocks per CPU second of the pipeline"
    # warm-up operations: the cold one. Less its JIT compiler threads, the
    # second pipeline already costs what the ones after it do.
    warm = warm_traced = 1
    min_ops = 2

    def __init__(self, name: str, size: dict):
        self.name = name
        self.size = size

    def inputs(self, cache_dir: str, seed: int):
        tables = inputs.tiles_inputs(cache_dir, self.name, seed, self.size)
        # lookups the traced run times against the pipeline's own output
        tables["requests"] = inputs.lookup_requests(
            seed, 3, {"knn": 1, "pip": 1, "window": 1}, self.size["polygons"], 3)
        return tables

    def materialize(self, run: Run, dest: str) -> None:
        write_parquet(run.inputs["images"], os.path.join(dest, "images"),
                      self.size["files"], IMAGES_ARROW)
        write_parquet(run.inputs["geoms"], os.path.join(dest, "geoms"))
        run.dest = dest

    def op(self, run: Run, tag: str) -> dict:
        from quadtree_block_compression_spark.plans.quadtree_pipeline import (
            run_quadtree_pipeline)
        root = os.path.join(run.workdir, f"pipe-{tag}")
        out = run_quadtree_pipeline(run.spark, run.table("images"),
                                    run.table("geoms"), root)
        release_caches()
        return {"root": root, "manifest": out["pipeline"].manifest}

    def check(self, run: Run) -> dict:
        """Every measured pipeline: S1's blocks equal the kernel's blocks
        over the same images, and S4's matches equal brute-force PIP over
        S3's centroids. Returns the kernel rates of the reference pass."""
        ref, rates = reference.reference_blocks(run.inputs["images"])
        for r in run.records:
            def stage(s):
                return run.spark.read.parquet(os.path.join(r["root"], s))
            got = reference.canonical_blocks(
                stage("s1_blocks").select(*reference.BLOCK_KEY).toPandas())
            blocks_ok = got.equals(ref)
            cents = stage("s3_centroids").select("image_id", "tile_id", "wx", "wy").toPandas()
            pip_ok = {tuple(x) for x in stage("s4_spatial_join").select(
                "image_id", "tile_id", "geom_id").collect()} == \
                reference.pip_matches(cents, run.inputs["geoms"])
            run.outcome(blocks_ok and pip_ok,
                        f"pipeline {r['root']}: blocks {'ok' if blocks_ok else 'differ'}, "
                        f"PIP matches {'ok' if pip_ok else 'differ'}")
        return rates

    def metrics(self, run: Run, records: list[dict]) -> tuple[dict, dict]:
        blocks = [r["manifest"]["s1_blocks"]["rows"] for r in records]
        e2e = _cost_metrics(records, blocks)
        report = {"blocks_per_cpu_s": {"value": e2e["work_per_cpu_s"], "unit": "1/s"},
                  "pipeline_cpu_s": {"value": e2e["op_cpu_s"], "unit": "s"},
                  "blocks_per_s": {"value": median(
                      [b / r["wall"] for b, r in zip(blocks, records)]), "unit": "1/s"},
                  "pipeline_p50_ms": {"value": median([r["wall"] for r in records]) * 1e3,
                                      "unit": "ms"},
                  "pipelines": len(records),
                  "s1_blocks": records[0]["manifest"]["s1_blocks"]["rows"],
                  "stage_s": _stage_layers(records, TILE_STAGES)}
        return e2e, report

    def layers(self, run: Run, kernel_rates: dict) -> dict:
        from quadtree_block_compression_spark.operators.dedup_blocks import dedup_exact
        from quadtree_block_compression_spark.operators.spatial_join import (
            block_centroids, spatial_join_salted)
        from quadtree_block_compression_spark.operators.tiling import assign_tiles
        root = run.records[-1]["root"]
        stage = {s: run.spark.read.parquet(os.path.join(root, s)) for s in TILE_STAGES}
        images, geoms = run.table("images"), run.table("geoms")
        out = dict(kernel_rates)
        cents = stage["s3_centroids"].select("image_id", "tile_id", "wx", "wy").toPandas()
        out.update(reference.geometry_rates(cents, run.inputs["geoms"], 8))
        out.update(_time_operators(run, {
            "assign_tiles": lambda: assign_tiles(images),
            "dedup_exact": lambda: dedup_exact(stage["s1_blocks"]),
            "block_centroids": lambda: block_centroids(stage["s2_dedup"].filter("is_leaf")),
            "spatial_join_salted": lambda: spatial_join_salted(stage["s3_centroids"], geoms)}))
        out.update(lookup_operator_layers(run, run.inputs["requests"], stage["s1_blocks"],
                                          stage["s3_centroids"], geoms))
        out.update(_pip_ratio(stage["s3_centroids"], geoms, stage["s4_spatial_join"].count()))
        out.update(_stage_layers(run.records, TILE_STAGES))
        out.update(_lineage_layers(run, root, TILE_STAGES,
                                   dir_bytes(os.path.join(run.dest, "images"))))
        return out


class Lookup:
    """One client in a closed loop over a seeded mix of kNN, PIP and window
    requests against blocks and centroids tables that set-up writes."""

    unit = "completed requests per CPU second"

    def __init__(self, name: str, size: dict):
        self.name = name
        self.size = size
        self._next = 0
        # warm-up: one block of the request sequence (every kind at least once)
        self.warm = self.warm_traced = sum(size["block"].values())
        self.min_ops = 2

    def inputs(self, cache_dir: str, seed: int):
        tables = inputs.tiles_inputs(cache_dir, self.name, seed, self.size)
        tables["requests"] = inputs.lookup_requests(
            seed, self.size["requests"], self.size["block"], self.size["polygons"],
            self.size["max_level"])
        return tables

    def materialize(self, run: Run, dest: str) -> None:
        from quadtree_block_compression_spark.operators.spatial_join import block_centroids
        from quadtree_block_compression_spark.operators.tiling import assign_tiles
        spark = run.spark
        write_parquet(run.inputs["images"], os.path.join(dest, "images"),
                      self.size["files"], IMAGES_ARROW)
        write_parquet(run.inputs["geoms"], os.path.join(dest, "geoms"))
        run.dest = dest
        assign_tiles(run.table("images")).write.parquet(os.path.join(dest, "blocks"))
        block_centroids(run.table("blocks").filter("is_leaf")).write.parquet(
            os.path.join(dest, "centroids"))
        release_caches()
        self._next = 0

    def op(self, run: Run, tag: str) -> dict:
        reqs = run.inputs["requests"]
        req = reqs[self._next % len(reqs)]
        self._next += 1
        rows = lookup_frame(run.spark, req, tag, run.table("blocks"),
                            run.table("centroids"), run.table("geoms")).collect()
        release_caches()
        return {"req": req, "qid": tag, "rows": rows}

    def check(self, run: Run) -> dict:
        """kNN against ``knn_bruteforce``, PIP against numpy brute force,
        windows against a numpy filter of the blocks table."""
        from quadtree_block_compression_spark.operators.knn import knn_bruteforce
        blocks, cents = run.table("blocks"), run.table("centroids")
        cents_pd = cents.select("image_id", "tile_id", "wx", "wy").toPandas()
        blocks_pd = blocks.select("image_id", "tile_id", "level", "x0", "y0",
                                  "x1", "y1").toPandas()
        knn = [(r["qid"], r["req"]) for r in run.records if r["req"]["kind"] == "knn"]
        truth: dict[str, list] = {}
        if knn:
            q = run.spark.createDataFrame(knn_queries(knn))
            for row in knn_bruteforce(cents, q).collect():
                truth.setdefault(row.query_id.rsplit("_", 1)[0], []).append(row)
        geoms_pd = run.inputs["geoms"]

        def key(rows):
            return sorted((x.query_id, x.rank, x.image_id, x.tile_id,
                           round(x.distance, 6)) for x in rows)
        for r in run.records:
            req = r["req"]
            if req["kind"] == "knn":
                ok = key(r["rows"]) == key(truth.get(r["qid"], []))
            elif req["kind"] == "pip":
                ids = {f"poly_{p:05d}" for p in req["polygons"]}
                want = reference.pip_matches(cents_pd, geoms_pd[geoms_pd.geom_id.isin(ids)])
                ok = {(x.image_id, x.tile_id, x.geom_id) for x in r["rows"]} == want
            else:
                want = reference.window_blocks(blocks_pd, req["level"], *req["window"])
                got = [(x.image_id, x.tile_id) for x in r["rows"]]
                ok = len(got) == len(set(got)) and set(got) == want
            run.outcome(ok, f"{req['kind']} request {r['qid']} differs")
        return {}

    def metrics(self, run: Run, records: list[dict]) -> tuple[dict, dict]:
        walls = [r["wall"] for r in records]
        e2e = _cost_metrics(records, [1] * len(records))
        report = {"requests": len(walls), "requests_per_s": len(walls) / sum(walls)}
        for kind in self.size["block"]:
            w = [r["wall"] for r in records if r["req"]["kind"] == kind]
            report[f"{'range' if kind == 'window' else kind}_p50_ms"] = {
                "value": median(w) * 1e3 if w else None, "unit": "ms", "samples": len(w)}
        tail = tail_percentile(walls)
        report["lookup_tail_ms"] = {
            "value": tail[1] * 1e3 if tail else None, "unit": "ms",
            "percentile": tail[0] if tail else None, "samples": len(walls),
            "note": None if tail else "no percentile has 10 samples beyond it"}
        return e2e, report

    def layers(self, run: Run, kernel_rates: dict) -> dict:
        blocks, cents, geoms = run.table("blocks"), run.table("centroids"), run.table("geoms")
        out = dict(reference.reference_blocks(run.inputs["images"])[1])
        out.update(reference.geometry_rates(
            cents.select("image_id", "tile_id", "wx", "wy").toPandas(),
            run.inputs["geoms"], 8))
        out.update(lookup_operator_layers(run, run.inputs["requests"], blocks, cents, geoms))
        pip = [r for r in run.records if r["req"]["kind"] == "pip"]
        ids = sorted({f"poly_{p:05d}" for r in pip for p in r["req"]["polygons"]})
        matches = len({(x.image_id, x.tile_id, x.geom_id) for r in pip for x in r["rows"]})
        out.update(_pip_ratio(cents, geoms.filter(geoms.geom_id.isin(ids)), matches))
        return out


class Corpus:
    """``run_corpus_pipeline`` over a corpus with planted duplicates, timed
    end to end. The traced run then writes the dedup index of the clean
    output (``dedup_index_write``) and ingests micro-batches through
    ``streaming.ingest.make_dedup_batch_processor``."""

    unit = "input documents per CPU second of the batch pipeline"
    # warm-up operations: the cold one, and the second, whose CPU cost (less
    # the JIT compiler's) is still a quarter above that of the ones after
    # it; a traced run, which reports layers rather than the gated numbers,
    # warms up with the first. The CPU cost of one session's pipelines
    # varies more than that of tiles_small_files, so three are measured.
    warm, warm_traced = 2, 1
    min_ops = 3

    def __init__(self, name: str, size: dict):
        self.name = name
        self.size = size

    def inputs(self, cache_dir: str, seed: int):
        return inputs.corpus_inputs(cache_dir, seed, self.size)

    def materialize(self, run: Run, dest: str) -> None:
        write_parquet(run.inputs["docs"][["doc_id", "text"]],
                      os.path.join(dest, "docs"), self.size["files"])
        b = run.inputs["batches"]
        for k in range(self.size["batches"]):
            write_parquet(b.loc[b.batch == k, ["doc_id", "text"]],
                          os.path.join(dest, f"batch-{k}"))
        run.dest = dest

    def op(self, run: Run, tag: str) -> dict:
        from quadtree_block_compression_spark.plans.corpus_pipeline import (
            run_corpus_pipeline)
        root = os.path.join(run.workdir, f"corpus-{tag}")
        out = run_corpus_pipeline(run.spark, run.table("docs"), root)
        release_caches()
        return {"root": root, "manifest": out["pipeline"].manifest}

    def check(self, run: Run) -> dict:
        """Clean docs have distinct fingerprints and no planted exact copy
        survives exact dedup."""
        docs = run.inputs["docs"]
        copies = set(docs.loc[docs.label == "exact", "doc_id"])
        for r in run.records:
            def stage(s, *cols):
                return run.spark.read.parquet(os.path.join(r["root"], s)) \
                    .select("doc_id", *cols).toPandas()
            clean = stage("s4_quality_filter", "fingerprint")
            exact = stage("s2_exact_dedup")
            run.outcome(clean.fingerprint.is_unique
                        and not copies & (set(clean.doc_id) | set(exact.doc_id)),
                        f"pipeline {r['root']}: duplicates survive")
        return {}

    def metrics(self, run: Run, records: list[dict]) -> tuple[dict, dict]:
        n = len(run.inputs["docs"])
        e2e = _cost_metrics(records, [n] * len(records))
        report = {"docs_per_cpu_s": {"value": e2e["work_per_cpu_s"], "unit": "1/s"},
                  "pipeline_cpu_s": {"value": e2e["op_cpu_s"], "unit": "s"},
                  "docs_per_s": {"value": median([n / r["wall"] for r in records]),
                                 "unit": "1/s"},
                  "pipeline_p50_ms": {"value": median([r["wall"] for r in records]) * 1e3,
                                      "unit": "ms"},
                  "pipelines": len(records), "docs": n,
                  "stage_s": _stage_layers(records, CORPUS_STAGES)}
        return e2e, report

    def _ingest(self, run: Run) -> dict:
        """Index the last pipeline's clean output, then ingest every
        micro-batch. Each batch's tiers are checked against the generated
        labels."""
        from quadtree_block_compression_spark.operators import dedup_text
        from quadtree_block_compression_spark.streaming.ingest import (
            make_dedup_batch_processor)
        base = os.path.join(run.workdir, "ingest")
        index = os.path.join(base, "index")
        clean = run.spark.read.parquet(os.path.join(run.records[-1]["root"],
                                                    "s4_quality_filter"))
        with run.tracer.span("operators.dedup_index_write"):
            write_s = timed(lambda: dedup_text.dedup_index_write(clean, index))
        release_caches()
        # time the index append from outside: the processor binds the
        # module's function when it is made
        real_append = dedup_text.dedup_index_append
        appends: list[float] = []

        def timed_append(*a, **kw):
            with run.tracer.span("streaming.index_append"):
                t = time.perf_counter()
                real_append(*a, **kw)
                appends.append(time.perf_counter() - t)
        dedup_text.dedup_index_append = timed_append
        try:
            proc = make_dedup_batch_processor(index, os.path.join(base, "out"))
        finally:
            dedup_text.dedup_index_append = real_append
        walls = []
        for k in range(self.size["batches"]):
            batch = run.table(f"batch-{k}")
            with run.tracer.span("streaming.ingest_batch"):
                walls.append(timed(lambda: proc(batch, k)))
        release_caches()
        got = run.spark.read.parquet(os.path.join(base, "out")) \
            .select("_batch_id", "doc_id", "dup_tier", "dup_of").toPandas()
        labels = run.inputs["batches"]
        for k in range(self.size["batches"]):
            g = got[got._batch_id == k].set_index("doc_id").sort_index()
            want = labels[labels.batch == k].set_index("doc_id").sort_index()
            ok = g.index.equals(want.index) and bool(
                (g.dup_tier == want.label).all()
                and ((want.label == "unique") | (g.dup_of == want.source)).all())
            run.outcome(ok, f"ingest batch {k}: tiers differ from the labels")
        return {"operators.dedup_index_write_s": write_s,
                "streaming.ingest_batch_s": median(walls),
                "streaming.index_append_s": median(appends),
                "streaming.classify_s": median([w - a for w, a in zip(walls, appends)])}

    def layers(self, run: Run, kernel_rates: dict) -> dict:
        from quadtree_block_compression_spark.operators.dedup_text import (
            dedup_incremental_indexed, minhash_lsh_pairs)
        from quadtree_block_compression_spark.operators.text_analysis import annotate
        root = run.records[-1]["root"]
        out = self._ingest(run)
        docs, batch = run.table("docs"), run.table("batch-0")
        s2 = run.spark.read.parquet(os.path.join(root, "s2_exact_dedup"))
        index = os.path.join(run.workdir, "ingest", "index")
        out.update(_time_operators(run, {
            "annotate": lambda: annotate(docs),
            "minhash_lsh_pairs": lambda: minhash_lsh_pairs(s2),
            "dedup_incremental_indexed": lambda: dedup_incremental_indexed(
                run.spark, index, batch, exclude_batch_id=0)}))
        out.update(_stage_layers(run.records, CORPUS_STAGES))
        out.update(_lineage_layers(run, root, CORPUS_STAGES,
                                   dir_bytes(os.path.join(run.dest, "docs"))))
        return out


WORKLOADS = {
    # 16 small parquet files of small images: one Python task per file, so
    # the per-task cost of the Python runner dominates tile assignment
    "tiles_small_files": (Tiles, {
        "full": {"images": 225, "sizes": [8, 16, 33, 64, 128], "files": 16,
                 "polygons": 64},
        "smoke": {"images": 36, "sizes": [8, 33], "files": 4, "polygons": 8}}),
    # a JVM-only pipeline (no Python stage): the control for boundary changes
    "corpus_dedup": (Corpus, {
        "full": {"docs": 3000, "files": 4, "exact_share": 0.05, "near_share": 0.05,
                 "junk_share": 0.03, "batches": 1, "batch_docs": 40},
        "smoke": {"docs": 200, "files": 2, "exact_share": 0.05, "near_share": 0.05,
                  "junk_share": 0.05, "batches": 2, "batch_docs": 8}}),
    # not in BENCHMARK.json (see perfbench/METRICS.md): a few large files
    # of large images, kernel-bound
    "tiles_large_images": (Tiles, {
        "full": {"images": 36, "sizes": [100, 512], "files": 4, "polygons": 64},
        "smoke": {"images": 9, "sizes": [64], "files": 1, "polygons": 8}}),
    # not in BENCHMARK.json: closed-loop kNN / PIP / window lookups
    "spatial_lookup": (Lookup, {
        "full": {"images": 162, "sizes": [16, 64, 250], "files": 4, "polygons": 64,
                 "requests": 500, "block": {"knn": 3, "pip": 1, "window": 1},
                 "max_level": 4},
        "smoke": {"images": 9, "sizes": [64], "files": 1, "polygons": 8, "requests": 50,
                  "block": {"knn": 1, "pip": 1, "window": 1}, "max_level": 2}}),
}
