"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size, index)``: the same
arguments give byte-identical logical content. Generated files are cached
under a directory keyed by those arguments, so a later run with the same
seed and size skips generation; generation is never part of a timed
region or of ``setup_s``.

- :func:`block_batch` — one ingest batch of nested blocks, built from the
  row helpers of ``fixtures/gen_fixtures.py`` (blocks about ten minutes
  apart, about 10% at-least-once duplicates, about 5% empty blocks).
- :func:`corpus` — a near-dup corpus with planted chains.
- :func:`jpeg_payloads` — baseline JPEGs encoded by the engine's own
  ``functions.jpeg.encode_jpeg``.
- :func:`star_tables` — the ten relational tables the declared queries
  read, with the column names and types of the engine's test tables.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BLOCK_SPACING_MS = 600_000  # one block about every ten minutes
DUP_SHARE = 0.10
EMPTY_SHARE = 0.05


@functools.cache
def _fixture_helpers():
    """``fixtures/gen_fixtures.py`` loaded by path (it is a script, not a
    package module); only its row helpers and Arrow schema are used."""
    path = os.path.join(ROOT, "fixtures", "gen_fixtures.py")
    spec = importlib.util.spec_from_file_location("_bench_gen_fixtures", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _atomic_dir(final: str, build) -> str:
    """Run ``build(tmp_dir)`` and rename the result into place, so an
    interrupted generation never leaves a half-written cache entry."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # another run won the race
    return final


# ---------------------------------------------------------------------------
# blocks


def block_batch(seed: int, index: int, n_blocks: int, max_tx: int = 8) -> list[dict]:
    """Batch ``index`` of a seeded block stream: ``n_blocks`` physical rows,
    of which about 10% repeat an earlier row of the batch with identical
    payload (at-least-once delivery) and about 5% carry no transactions.
    Batches follow each other in event time, so a store that ingests them
    in order only ever appends newer windows."""
    fx = _fixture_helpers()
    rng = random.Random(f"blocks:{seed}:{index}")
    n_distinct = max(1, round(n_blocks / (1 + DUP_SHARE)))
    t_batch = 1_577_836_800_000 + index * n_distinct * BLOCK_SPACING_MS
    blocks = []
    for i in range(n_distinct):
        tag = f"{seed}:{index}:{i}"
        work = (
            -rng.randint(1, 10**9)
            if rng.random() < 0.02
            else rng.randint(fx.TERAHASH_DIV, 9 * 10**15)
        )
        n_tx = 0 if rng.random() < EMPTY_SHARE else rng.randint(1, max_tx)
        txs = [
            {
                "transaction_id": fx._hex(f"tx:{tag}:{j}"),
                "inputs": [
                    fx._make_input(rng, coinbase=(j == 0 and k == 0))
                    for k in range(rng.randint(1, 3))
                ],
                "outputs": [fx._make_output(rng) for _ in range(rng.randint(1, 3))],
            }
            for j in range(n_tx)
        ]
        blocks.append(
            {
                "block_id": fx._hex(f"block:{tag}"),
                "previous_block": fx._hex(f"block:{seed}:{index}:{i - 1}"),
                "merkle_root": fx._hex(f"merkle:{tag}"),
                "timestamp": t_batch + i * BLOCK_SPACING_MS + rng.randint(0, 59_999),
                "difficultyTarget": rng.getrandbits(34),
                "nonce": rng.getrandbits(32),
                "version": rng.choice([1, 2, 4]),
                "work": work,
                "work_terahash": (work // fx.TERAHASH_DIV) if work > 0 else None,
                "work_error": None if work > 0 else "negative work",
                "transactions": txs,
            }
        )
    rows = list(blocks)
    rows += [blocks[i] for i in rng.choices(range(n_distinct), k=n_blocks - n_distinct)]
    rng.shuffle(rows)
    base = index * 1_000_000
    return [{"ingest_id": base + i, **r} for i, r in enumerate(rows)]


def block_batch_file(cache: str, seed: int, index: int, n_blocks: int) -> str:
    """Parquet hand-off file of :func:`block_batch` (cached)."""
    d = os.path.join(cache, f"blocks-s{seed}-n{n_blocks}")
    path = os.path.join(d, f"batch-{index:05d}.parquet")
    if not os.path.exists(path):
        os.makedirs(d, exist_ok=True)
        fx = _fixture_helpers()
        table = pa.Table.from_pylist(
            block_batch(seed, index, n_blocks), schema=fx.BLOCKS_T
        )
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# near-dup corpus

_SYLLABLES = [
    c + v
    for c in "bcdfghjklmnprstvwz"
    for v in ("a", "e", "i", "o", "u", "ai", "ou", "ei")
]


def _word(i: int) -> str:
    """A pronounceable, unique lowercase word for vocabulary id ``i``."""
    out = []
    n = len(_SYLLABLES)
    i += n  # at least two syllables
    while i:
        i, r = divmod(i, n)
        out.append(_SYLLABLES[r])
    return "".join(out)


def corpus(seed: int, n_docs: int) -> dict:
    """A near-dup corpus: ``{"doc_id", "text", "chains"}``.

    Tokens follow a Zipf head over a 3k-word common vocabulary (about a
    fifth of each document) plus a long tail from a 1M-word vocabulary,
    so unrelated documents share few tokens and MinHash LSH candidates
    stay far below all pairs. About 20% of documents sit
    in planted chains of length 2-16: each member copies the previous one
    with one or two token substitutions, so consecutive members have token
    Jaccard of at least 0.9 while the chain's ends drift further apart —
    the shape that makes connected components run several rounds."""
    rng = np.random.default_rng([seed, n_docs, 7])
    common = 3_000
    ranks = np.arange(1, common + 1, dtype=np.float64)
    zipf = (1.0 / ranks) / (1.0 / ranks).sum()

    def fresh(length: int) -> list[int]:
        n_common = length // 5
        head = rng.choice(common, size=n_common, p=zipf)
        tail = common + rng.integers(0, 1_000_000, size=length - n_common)
        toks = np.concatenate([head, tail])
        rng.shuffle(toks)
        return toks.tolist()

    docs: list[list[int]] = []
    chains: list[list[int]] = []
    while len(docs) < n_docs:
        base = fresh(int(rng.integers(40, 121)))
        if rng.random() < 0.04:  # ~20% of docs end up in chains
            length = int(min(rng.integers(2, 17), n_docs - len(docs)))
            chain = []
            cur = base
            for _ in range(length):
                chain.append(len(docs))
                docs.append(cur)
                cur = list(cur)
                for _ in range(int(rng.integers(1, 3))):
                    cur[int(rng.integers(0, len(cur)))] = common + int(
                        rng.integers(0, 1_000_000)
                    )
            if len(chain) > 1:
                chains.append(chain)
        else:
            docs.append(base)
    # shuffle ids so chain members are not neighbours in id order
    perm = rng.permutation(n_docs)
    text = [""] * n_docs
    for old, toks in enumerate(docs):
        text[int(perm[old])] = " ".join(_word(t) for t in toks)
    return {
        "doc_id": list(range(n_docs)),
        "text": text,
        "chains": [[int(perm[d]) for d in c] for c in chains],
    }


def corpus_dir(cache: str, seed: int, n_docs: int) -> str:
    """Cached parquet + planted-chain sidecar for :func:`corpus`."""

    def build(tmp):
        c = corpus(seed, n_docs)
        pq.write_table(
            pa.table({"doc_id": pa.array(c["doc_id"], pa.int64()), "text": c["text"]}),
            os.path.join(tmp, "docs.parquet"),
        )
        write_json(os.path.join(tmp, "chains.json"), c["chains"])

    return _atomic_dir(os.path.join(cache, f"corpus-s{seed}-n{n_docs}"), build)


# ---------------------------------------------------------------------------
# JPEG payloads


def _image_pixels(rng: np.random.Generator, w: int, h: int, ch: int) -> bytes:
    """Non-flat content: a smooth gradient plus a few rectangles plus mild
    noise, so AC coefficients are non-zero and decoding does real work."""
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.empty((h, w, ch), dtype=np.float64)
    for c in range(ch):
        a, b = rng.uniform(-2.0, 2.0, size=2)
        img[:, :, c] = 128 + a * xx + b * yy
    for _ in range(int(rng.integers(1, 5))):
        x0, y0 = int(rng.integers(0, w)), int(rng.integers(0, h))
        x1, y1 = x0 + int(rng.integers(2, w + 1)), y0 + int(rng.integers(2, h + 1))
        img[y0:y1, x0:x1, :] += rng.uniform(-60, 60, size=ch)
    img += rng.normal(0, 6, size=img.shape)
    return np.clip(img, 0, 255).astype(np.uint8).tobytes()


def jpeg_payloads(seed: int, n_images: int) -> list[dict]:
    """``n_images`` baseline JPEGs, 16-128 px per side, gray and colour
    mixed, encoded with the engine's ``encode_jpeg`` at varied quantizers."""
    from blockchaintoavro_spark.functions.jpeg import encode_jpeg

    rng = np.random.default_rng([seed, n_images, 11])
    out = []
    for i in range(n_images):
        w, h = (int(v) for v in rng.integers(16, 129, size=2))
        ch = 3 if rng.random() < 0.5 else 1
        px = _image_pixels(rng, w, h, ch)
        out.append(
            {
                "doc_id": i,
                "payload": encode_jpeg(w, h, px, channels=ch, quant=int(rng.integers(2, 17))),
            }
        )
    return out


JPEG_POOL_SEED = 0


def jpeg_pool_dir(cache: str, n_images: int) -> str:
    """Cached parquet (doc_id, payload, modality) of :func:`jpeg_payloads`
    at a fixed seed. Encoding is pure Python (about 25 ms an image), so
    the pool is encoded once and each seed draws from it."""

    def build(tmp):
        rows = jpeg_payloads(JPEG_POOL_SEED, n_images)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
                    "payload": pa.array([r["payload"] for r in rows], pa.binary()),
                    "modality": ["image"] * len(rows),
                }
            ),
            os.path.join(tmp, "images.parquet"),
        )

    return _atomic_dir(os.path.join(cache, f"jpeg-pool-n{n_images}"), build)


def jpeg_file(cache: str, pool: str, seed: int, n_images: int) -> str:
    """``n_images`` images drawn by ``seed`` from the pool in ``pool``
    (without replacement, in seed order; doc ids are the pool's)."""
    path = os.path.join(cache, f"jpeg-s{seed}-n{n_images}.parquet")
    if not os.path.exists(path):
        t = pq.read_table(os.path.join(pool, "images.parquet"))
        pick = np.random.default_rng([seed, n_images, 11]).choice(
            t.num_rows, n_images, replace=False
        )
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(t.take(pa.array(pick)), tmp)
        os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# relational tables


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(1, n + 1)]


def star_tables(out_dir: str, sf: float = 0.1, seed: int = 42) -> None:
    """Write the ten relational tables (TPC-H-like star schema plus
    ``events``, ``documents`` and ``embeddings``) at scale factor ``sf``,
    with the column names and Arrow types the declared queries expect.
    Row counts follow TPC-H (lineitem about 6M x sf)."""
    rng = np.random.default_rng([seed, int(sf * 1000), 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)
    epoch = np.datetime64("1992-01-01T00:00:00", "us")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    money = lambda n, lo, hi: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    write("customer", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ).tolist(),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(n_supp, -999.99, 9999.99),
    })
    write("part", {
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": _names("Part", n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": money(n_part, 900.0, 2100.0),
    })
    o_date = epoch + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    write("orders", {
        "o_orderkey": pa.array(np.arange(1, n_ord + 1) * 4, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": money(n_ord, 850.0, 500_000.0),
        "o_orderdate": pa.array(o_date.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    })
    li_order = np.sort(rng.integers(0, n_ord, n_li))
    same = np.concatenate([[False], li_order[1:] == li_order[:-1]])
    run = np.cumsum(~same)  # 1-based run id per order
    starts = np.flatnonzero(~same)
    li_line = np.arange(n_li) - starts[run - 1] + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = o_date[li_order] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    write("lineitem", {
        "l_orderkey": pa.array((li_order + 1) * 4, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(li_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 30 * 86_400_000_000, n_ev
    ).astype("timedelta64[us]")
    write("events", {
        "event_id": pa.array(np.arange(1, n_ev + 1), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, n_ev // 50 + 2, n_ev), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "error"], n_ev).tolist(),
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": ['{"k":%d}' % v for v in rng.integers(0, 100, n_ev)],
    })
    text = [" ".join(_word(int(t)) for t in rng.integers(0, 5_000, int(k)))
            for k in rng.integers(5, 60, n_docs)]
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": rng.choice(["en", "de", "fr"], n_docs).tolist(),
        "source": rng.choice(["web", "book", "code"], n_docs).tolist(),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


def star_dir(cache: str, sf: float = 0.1) -> str:
    """Cached :func:`star_tables` directory (fixed seed: the relational
    data does not vary with the workload seed)."""
    return _atomic_dir(
        os.path.join(cache, f"star-sf{sf}"), lambda tmp: star_tables(tmp, sf)
    )


def write_json(path: str, obj) -> None:
    """Write ``obj`` as JSON through a rename, so readers never see a
    partial file."""
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()[:16]
