"""The benchmark workloads. Each one drives the engine through its public
functions; the runner (``run.py``) owns timing, the loop and reporting.

A workload provides:

- ``prepare(ctx)`` — generate or load inputs and expected outputs, the
  warm-up's too (cached, untimed, not part of ``setup_s``);
- ``warm_up(ctx)`` — one untimed operation, part of ``setup_s``;
- ``before(ctx, i)`` — untimed per-operation input preparation;
- ``op(ctx, i)`` — one timed operation; returns the items it completed;
- ``check(ctx, i)`` — untimed output check of operation ``i``;
- ``layer_counts(ctx)`` — extra per-layer readings for a traced run.

Every span opened here ends at a materializing action (see ``spans.py``).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

import gen

from blockchaintoavro_spark.operators import blocks_etl, dedup, manifest, multimodal, rotation
from blockchaintoavro_spark.plans import blocks_queries, load_all

# Small warm-up inputs: most of a first operation's extra cost (Python
# worker start, plan compilation) does not depend on input size.
WARM_BLOCKS = 20
WARM_SF = 0.01
WARM_DOCS = 100
WARM_IMAGES = 16


def _compare_module():
    """``tests/_compare.py``, imported unmodified by path (``tests`` is
    not a package)."""
    import importlib.util

    path = os.path.join(gen.ROOT, "tests", "_compare.py")
    spec = importlib.util.spec_from_file_location("_bench_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_cmp = _compare_module()


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result, canonicalized exactly as the
    engine's oracle tests do (columns sorted by name, cells rendered by
    ``canon_rows``)."""
    h = hashlib.sha256("|".join(sorted(columns)).encode())
    for line in _cmp.canon_rows(columns, [tuple(r) for r in rows]):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    cache: str
    work: str
    nproc: int
    trace: bool = False
    wrong: bool = False  # corrupt every expected output (smoke test)
    state: dict = field(default_factory=dict)


class Workload:
    """Defaults for the optional parts of a workload."""

    pass_len = 1  # operations per pass; a run ends on a pass boundary

    def before(self, ctx: Ctx, i: int) -> None:
        pass

    def traced_extras(self, ctx: Ctx, i: int) -> None:
        pass

    def layer_counts(self, ctx: Ctx) -> dict:
        return {}


# ---------------------------------------------------------------------------


class IngestPublish(Workload):
    """One batch of generated blocks: rotated OCF write → window prune →
    range read → publish (dedup + unnest) → segment write + manifest
    commit → manifest read + per-block count query."""

    name = "ingest_publish"
    item = "block published"
    rotation_seconds = 600

    def __init__(self, tiny: bool):
        self.n_blocks = 20 if tiny else 200

    def sizes(self) -> dict:
        return {"blocks_per_batch": self.n_blocks, "rotation_seconds": self.rotation_seconds}

    def prepare(self, ctx: Ctx) -> None:
        self.sink = os.path.join(ctx.work, "rotated")
        self.store = os.path.join(ctx.work, "published")
        self.input_bytes = 0
        self.oracle = blocks_queries._DQ07_ORACLE
        if blocks_queries._B not in self.oracle:
            raise RuntimeError("dq07 oracle no longer reads the blocks fixture by _B")
        # a small batch starts the Python workers and compiles the plans;
        # a full one lets the JIT see full-size batches before timing
        self.warm = [self._batch(ctx, 0, WARM_BLOCKS), self._batch(ctx, 1, self.n_blocks)]

    def _batch(self, ctx: Ctx, index: int, n_blocks: int | None = None) -> dict:
        """Hand-off file, probe range (middle third of the batch's event
        time span) and the DuckDB oracle's expected output."""
        path = gen.block_batch_file(ctx.cache, ctx.seed, index, n_blocks or self.n_blocks)
        table = pq.read_table(path)
        self.input_bytes += table.nbytes
        ts = table.column("timestamp").to_pylist()
        lo, hi = min(ts), max(ts)
        lo, hi = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
        src = f"(SELECT * FROM read_parquet('{path}') WHERE timestamp BETWEEN {lo} AND {hi})"
        con = duckdb.connect()
        try:
            res = con.execute(self.oracle.replace(blocks_queries._B, src))
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
        finally:
            con.close()
        counts = Counter(r[cols.index("block_id")] for r in rows)
        return {
            "index": index, "path": path, "lo": lo, "hi": hi,
            "expect_hash": result_hash(cols, rows), "expect_counts": dict(counts),
            "table": table,
        }

    def warm_up(self, ctx: Ctx) -> None:
        for batch in self.warm:
            ctx.state["batch"] = batch
            self.op(ctx, -1)

    def before(self, ctx: Ctx, i: int) -> None:
        ctx.state["batch"] = self._batch(ctx, i + 2)

    def op(self, ctx: Ctx, i: int) -> int:
        spark, tr, b = ctx.spark, ctx.tracer, ctx.state["batch"]
        with tr.span("rotation.write_rotated"):
            rotation.write_rotated(
                spark.read.parquet(b["path"]), self.sink, mode="append",
                suffix=f"-b{b['index']}", rotation_seconds=self.rotation_seconds,
            )
        with tr.span("rotation.prune_rotated"):
            kept, total = rotation.prune_rotated(
                spark, self.sink, b["lo"], b["hi"], self.rotation_seconds
            )
            tr.count("rotation.windows_kept_ratio", len(kept) / total)
        with tr.span("rotation.read_range"):
            rng = rotation.read_rotated_range(
                spark, self.sink, b["lo"], b["hi"], self.rotation_seconds, windows=kept
            ).localCheckpoint(eager=True)
        seg = manifest.new_segment_name()
        with tr.span("blocks_etl.publish"):
            blocks_etl.publish_transactions(rng).write.parquet(f"{self.store}/{seg}")
        with tr.span("manifest.commit_append"):
            manifest.commit_append(spark, self.store, [seg])
        with tr.span("manifest.read_segments"):
            _gen, man = manifest.latest_manifest(spark, self.store)
            counts = (
                manifest.read_segments(spark, self.store, man)
                .where(f"timestamp BETWEEN {b['lo']} AND {b['hi']}")
                .groupBy("block_id")
                .count()
                .collect()
            )
            tr.count("manifest.segments", len(man["segments"]))
        ctx.state["result"] = {"seg": seg, "counts": {r[0]: r[1] for r in counts}}
        return b["table"].num_rows

    def check(self, ctx: Ctx, i: int) -> bool:
        b, res = ctx.state["batch"], ctx.state["result"]
        published = pq.read_table(f"{self.store}/{res['seg']}")
        rows = list(zip(*(published.column(c).to_pylist() for c in published.column_names)))
        expect = "0" * 64 if ctx.wrong else b["expect_hash"]
        ok = result_hash(published.column_names, rows) == expect
        ok = ok and res["counts"] == b["expect_counts"]
        if ctx.tracer.enabled:
            ctx.tracer.count("blocks_etl.rows_out", len(rows))
            ctx.tracer.count("rotation.files_written", sum(
                1 for _d, _s, fs in os.walk(self.sink)
                for f in fs if f.endswith(f"-b{b['index']}.avro")
            ))
        return ok

    def traced_extras(self, ctx: Ctx, i: int) -> None:
        """Driver-side codec calls on this batch's records, in their own
        spans (outside the operation's root span)."""
        from blockchaintoavro_spark.schemas import BLOCKS_SCHEMA
        from blockchaintoavro_spark.sources import avro_io

        tr, b = ctx.tracer, ctx.state["batch"]
        records = b["table"].to_pylist()
        schema = avro_io.spark_to_avro_schema(BLOCKS_SCHEMA)
        path = os.path.join(ctx.work, "codec.avro")
        with tr.span("avro_io.write_ocf"):
            avro_io.write_ocf(path, schema, records)
            tr.count("rows", len(records))
        with tr.span("avro_io.read_ocf"):
            _s, back = avro_io.read_ocf(path)
            tr.count("rows", len(back))
        os.remove(path)

    def layer_counts(self, ctx: Ctx) -> dict:
        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for root in (self.sink, self.store)
            for d, _s, fs in os.walk(root) for f in fs
        )
        return {"stored_bytes_per_input_byte": stored / max(1, self.input_bytes)}


# ---------------------------------------------------------------------------


class QueryMix(Workload):
    """One declared query per operation, from a fixed mix; the seed only
    permutes the order. Operations run in whole passes over the mix, so
    every run weighs each query equally."""

    name = "query_mix"
    item = "query answered"
    queries = (
        "dq07_flagship_etl", "dq37_flagship_full", "dq10_star_join",
        "dq15_agg_q1", "dq30_sessionize", "dq31_cosine_topk",
    )
    pass_len = len(queries)

    def __init__(self, tiny: bool):
        self.sf = 0.001 if tiny else 0.1

    def sizes(self) -> dict:
        return {"sf": self.sf, "queries": list(self.queries)}

    def prepare(self, ctx: Ctx) -> None:
        self.registry = load_all()
        self.star = gen.star_dir(ctx.cache, self.sf)
        self.warm_star = gen.star_dir(ctx.cache, min(WARM_SF, self.sf))
        self.order = list(self.queries)
        random.Random(ctx.seed).shuffle(self.order)
        key = hashlib.sha256(
            "".join(self.registry[q].oracle for q in self.queries).encode()
            + gen.file_digest(blocks_queries.BLOCKS_PARQUET).encode()
        ).hexdigest()[:16]
        path = os.path.join(self.star, f"expected-{key}.json")
        if not os.path.exists(path):
            con = _cmp.duck_connection(self.star)
            try:
                exp = {q: result_hash(*_cmp.run_duck(con, self.registry[q].oracle))
                       for q in self.queries}
            finally:
                con.close()
            gen.write_json(path, exp)
        with open(path) as f:
            self.expected = json.load(f)

    def warm_up(self, ctx: Ctx) -> None:
        # one pass over small tables: each plan compiles once
        for q in self.queries:
            self.registry[q].spark(ctx.spark, self.warm_star).collect()

    def op(self, ctx: Ctx, i: int) -> int:
        q = self.order[i % self.pass_len]
        with ctx.tracer.span("plans.build"):
            df = self.registry[q].spark(ctx.spark, self.star)
        with ctx.tracer.span("plans.execute"):
            rows = df.collect()
        ctx.state["result"] = (q, df.columns, rows)
        return 1

    def check(self, ctx: Ctx, i: int) -> bool:
        q, cols, rows = ctx.state["result"]
        expect = self.expected[q]
        return result_hash(cols, rows) == (expect[::-1] if ctx.wrong else expect)


# ---------------------------------------------------------------------------


class DedupDecode(Workload):
    """One curation batch of a generated multimodal corpus: near-dup dedup
    of its text documents (MinHash LSH candidate pairs → connected
    components → keep one document per cluster, written out), then
    ``multimodal.extract_features`` over its JPEG documents (Python
    workers run the pure-Python JPEG decoder)."""

    name = "dedup_decode"
    item = "document curated (text deduplicated or image decoded)"

    def __init__(self, tiny: bool):
        self.n_docs = 200 if tiny else 400
        self.n_images = 16 if tiny else 200

    def sizes(self) -> dict:
        return {"docs": self.n_docs, "images": self.n_images,
                "image_pool": 2 * self.n_images, "side_px": [16, 128]}

    def prepare(self, ctx: Ctx) -> None:
        from blockchaintoavro_spark.functions.imaging import pixel_checksum
        from blockchaintoavro_spark.functions.jpeg import decode_jpeg

        d = gen.corpus_dir(ctx.cache, ctx.seed, self.n_docs)
        self.docs_path = os.path.join(d, "docs.parquet")
        with open(os.path.join(d, "chains.json")) as f:
            chains = json.load(f)
        self.planted = {(min(a, b), max(a, b)) for c in chains for a, b in zip(c, c[1:])}
        self.warm_docs_path = os.path.join(
            gen.corpus_dir(ctx.cache, ctx.seed, WARM_DOCS), "docs.parquet"
        )
        self.out = os.path.join(ctx.work, "deduped")
        self.texts = None

        pool = gen.jpeg_pool_dir(ctx.cache, 2 * self.n_images)
        exp_path = os.path.join(pool, "expected.json")
        if not os.path.exists(exp_path):
            t = pq.read_table(os.path.join(pool, "images.parquet"))
            exp = {}
            for doc, p in zip(t.column("doc_id").to_pylist(), t.column("payload").to_pylist()):
                info = decode_jpeg(p)
                exp[str(doc)] = [info["width"], info["height"], pixel_checksum(info["pixels"])]
            gen.write_json(exp_path, exp)
        with open(exp_path) as f:
            pool_expected = json.load(f)
        self.images_path = gen.jpeg_file(ctx.cache, pool, ctx.seed, self.n_images)
        self.warm_images_path = gen.jpeg_file(ctx.cache, pool, ctx.seed, WARM_IMAGES)
        self.expected = {
            d: tuple(pool_expected[str(d)])
            for d in pq.read_table(self.images_path, columns=["doc_id"]).column(0).to_pylist()
        }

    def warm_up(self, ctx: Ctx) -> None:
        # a small batch compiles the plans and starts the Python workers;
        # the JVM then needs one full batch more before batches take the
        # same time (without it the first timed batch ran 20-40% slower)
        self._dedup(ctx, self.warm_docs_path)
        self._decode(ctx, self.warm_images_path)
        self.op(ctx, -1)

    def op(self, ctx: Ctx, i: int) -> int:
        self._dedup(ctx, self.docs_path)
        self._decode(ctx, self.images_path)
        return self.n_docs + self.n_images

    def _dedup(self, ctx: Ctx, docs_path: str) -> None:
        spark, tr = ctx.spark, ctx.tracer
        with tr.span("sources.read_parquet"):
            docs = spark.read.parquet(docs_path)
        with tr.span("dedup.candidate_pairs"):
            pairs = dedup.minhash_candidate_pairs(docs).localCheckpoint(eager=True)
        with tr.span("dedup.clusters"):
            labels = dedup.dedup_clusters(pairs)
        with tr.span("dedup.keep"):
            (
                docs.join(labels, "doc_id", "left")
                .where("cluster_id IS NULL OR cluster_id = doc_id")
                .drop("cluster_id")
                .write.mode("overwrite")
                .parquet(self.out)
            )
        ctx.state["dedup"] = (pairs, labels)

    def _decode(self, ctx: Ctx, images_path: str) -> None:
        with ctx.tracer.span("sources.read_parquet"):
            df = ctx.spark.read.parquet(images_path).repartition(ctx.nproc, "doc_id")
        with ctx.tracer.span("multimodal.extract_features"):
            ctx.state["images"] = multimodal.extract_features(df).collect()

    def check(self, ctx: Ctx, i: int) -> bool:
        dedup_ok = self._check_dedup(ctx)
        return self._check_images(ctx) and dedup_ok

    def _check_dedup(self, ctx: Ctx) -> bool:
        """Planted recall 1, cluster labels equal to a driver-side
        union-find over the returned pairs, one kept document per cluster."""
        pairs_df, labels_df = ctx.state["dedup"]
        pairs = {(r[0], r[1]) for r in pairs_df.collect()}
        labels = {r[0]: r[1] for r in labels_df.collect()}
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {n: find(n) for n in parent}
        planted = self.planted | {(-2, -1)} if ctx.wrong else self.planted
        recall = len(planted & pairs) / len(planted)
        kept = pq.ParquetDataset(self.out).read(columns=["doc_id"]).num_rows
        n_roots = len(set(expect.values()))
        ok = (
            recall == 1.0
            and labels == expect
            and kept == self.n_docs - len(expect) + n_roots
        )
        if ctx.tracer.enabled:
            ctx.tracer.count("dedup.candidate_pairs", len(pairs))
            ctx.tracer.count("dedup.planted_recall", recall)
            ctx.tracer.count("dedup.candidate_precision", self._precision(pairs))
        return ok

    def _precision(self, pairs) -> float:
        """Share of candidate pairs whose exact token Jaccard is ≥ 0.4."""
        if self.texts is None:
            t = pq.read_table(self.docs_path)
            self.texts = {
                d: set(s.split(" "))
                for d, s in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
            }
        good = sum(
            1 for a, b in pairs
            if len(self.texts[a] & self.texts[b]) >= 0.4 * len(self.texts[a] | self.texts[b])
        )
        return good / max(1, len(pairs))

    def _check_images(self, ctx: Ctx) -> bool:
        """Widths, heights and pixel checksums equal driver-side
        ``decode_jpeg`` results."""
        got = {r["doc_id"]: (r["width"], r["height"], r["checksum"]) for r in ctx.state["images"]}
        expect = self.expected
        if ctx.wrong:
            expect = {d: (w, h, c + 1) for d, (w, h, c) in expect.items()}
        return got == expect

    def traced_extras(self, ctx: Ctx, i: int) -> None:
        from blockchaintoavro_spark.functions.jpeg import decode_jpeg

        sample = pq.read_table(self.images_path).column("payload").to_pylist()[:16]
        with ctx.tracer.span("jpeg.decode_jpeg"):
            for p in sample:
                decode_jpeg(p)
            ctx.tracer.count("rows", len(sample))


WORKLOADS = {w.name: w for w in (IngestPublish, QueryMix, DedupDecode)}
