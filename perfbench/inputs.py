"""Seeded benchmark inputs, generated without Spark and cached on disk.

Every input is a pure function of ``(kind, seed, size)``: the same seed
gives byte-identical parquet. Generation runs outside every timed span
and outside ``setup_s``; a finished input directory is published with an
atomic rename so an interrupted run never leaves a half-written table.
Only the most recent few input sets are kept, to bound disk use.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = ".perfbench_cache"
KEEP_INPUT_SETS = 10  # per input family: one driver pass of ten seeds
GENERATOR = "g2"  # part of every input's directory name; change it with the generators

# --- images (img_files, img_frame) -----------------------------------------
N_IMAGES = 8_000
IMAGE_PX = (64, 128)
IMAGE_FILES = 16
DEFECT_PERIOD = 1000  # fixtures.defect_for_index repeats every 1000 rows
GEN_PROCESSES = 4

# --- table (lineitem-shaped child + orders-shaped parent) -------------------
# Every column follows the sf0.1 ``lineitem`` / ``orders`` tables of the
# repository's test data (600,000 / 150,000 rows), measured with DuckDB;
# the defects are the ones those tables carry, at their rates (see
# perfbench/README.md, "Input model"). Only the row count is scaled.
N_LINEITEM = 200_000
N_ORDERS = N_LINEITEM // 4  # the pool's 600,000 lines over 150,000 orders
LINEITEM_FILES = 8
LINENUMBERS = 7  # l_linenumber uniform in 1..7, independent of the order
MAX_QUANTITY = 50  # l_quantity uniform in 1..50; 50 is outside Range(1, 49)
PRICE_RANGE = (900.0, 105_000.0)  # l_extendedprice uniform, independent of quantity
SHIP_FIRST, SHIP_DAYS = "1995-01-02", 2498  # l_shipdate uniform over these days

# --- dedup (documents corpus) ----------------------------------------------
# The sf0.1 ``documents`` pool (5,000 rows), measured with DuckDB: each
# text is 10-99 words drawn uniformly from these 30 words; 250 rows (5 %)
# are a near-duplicate, the text of another row plus the word " dup"
# (copies of copies included); ``lang`` is en for ~41 %, else one of four;
# ``source`` cycles over 20 values with ``doc_id``.
N_DOCS = 1_000
DOC_WORDS = (10, 100)  # half-open range of words per text
DUP_SHARE = 0.05
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS, LANG_P = ("en", "de", "es", "fr", "zh"), (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SOURCES = 20

IMAGES_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)


def image_offset(seed: int) -> int:
    """First fixture index of the seed's image range. A multiple of the
    defect period, so every duplicate pair stays inside its block and the
    defect manifest of the range is closed-form."""
    return seed * 100 * DEFECT_PERIOD


def _publish(final: str, build) -> str:
    """Build into a temporary directory, then rename it into place."""
    if os.path.isdir(final):
        os.utime(final)
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    _evict(os.path.dirname(final))
    return final


def _evict(parent: str) -> None:
    sets = [
        os.path.join(parent, d)
        for d in os.listdir(parent)
        if ".tmp" not in d and os.path.isdir(os.path.join(parent, d))
    ]
    sets.sort(key=os.path.getmtime, reverse=True)
    for old in sets[KEEP_INPUT_SETS:]:
        shutil.rmtree(old, ignore_errors=True)


def _image_file(path: str, start: int, stop: int) -> None:
    from oblate_spark.fixtures import make_row

    rows = [make_row(i, IMAGE_PX) for i in range(start, stop)]
    cols = {name: [r[name] for r in rows] for name in IMAGES_SCHEMA.names}
    cols["bytes"] = [bytes(b) for b in cols["bytes"]]
    pq.write_table(pa.table(cols, schema=IMAGES_SCHEMA), path)


def _image_files(tmp: str, seed: int, part: int) -> None:
    """Write every ``GEN_PROCESSES``-th file of the seed's image table,
    starting at file ``part``."""
    off, per = image_offset(seed), N_IMAGES // IMAGE_FILES
    for k in range(part, IMAGE_FILES, GEN_PROCESSES):
        _image_file(os.path.join(tmp, f"part-{k:05d}.parquet"), off + k * per,
                    off + (k + 1) * per if k < IMAGE_FILES - 1 else off + N_IMAGES)


def images(seed: int, root: str = CACHE_DIR) -> str:
    """Parquet directory of ``N_IMAGES`` fixture rows starting at
    ``image_offset(seed)``, split into ``IMAGE_FILES`` files."""
    final = os.path.join(root, "inputs", "images", f"s{seed}_n{N_IMAGES}")

    def build(tmp: str) -> None:
        # encoding takes ~9 s in one process, so GEN_PROCESSES plain child
        # processes share it; each is waited for, as no helper may outlive
        # the benchmark
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join([os.getcwd()] + [p for p in [env.get("PYTHONPATH")] if p])
        procs = [subprocess.Popen([sys.executable, os.path.abspath(__file__), tmp, str(seed), str(j)], env=env)
                 for j in range(GEN_PROCESSES)]
        try:
            codes = [p.wait() for p in procs]
        finally:
            for p in procs:
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if any(codes):
            raise RuntimeError(f"image generation failed: exit codes {codes}")

    return _publish(final, build)


def table(seed: int, root: str = CACHE_DIR) -> str:
    """``lineitem/`` and ``orders/`` parquet directories drawn like the
    pool's tables. Their defects follow from the draws, as in the pool:
    quantity 50 (outside [1, 49]) on 1 row in 50, return flag ``R``
    (outside the declared literal set) on 1 in 3, repeated (orderkey,
    linenumber) keys and prices; one order in seven is dropped from the
    parent by the referential check's own filter."""
    final = os.path.join(root, "inputs", "table", f"{GENERATOR}_s{seed}_n{N_LINEITEM}")

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, 2])
        n = N_LINEITEM
        lineitem = pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, LINENUMBERS + 1, n), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, MAX_QUANTITY + 1, n).astype(np.float64)),
                "l_extendedprice": pa.array(np.round(rng.uniform(*PRICE_RANGE, n), 2)),
                "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n), 2)),
                "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n), 2)),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
                "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
                "l_shipdate": pa.array(
                    np.datetime64(SHIP_FIRST) + rng.integers(0, SHIP_DAYS, n).astype("timedelta64[D]"),
                    pa.timestamp("us"),
                ),
            }
        )
        os.makedirs(os.path.join(tmp, "lineitem"))
        step = -(-n // LINEITEM_FILES)
        for k in range(LINEITEM_FILES):
            pq.write_table(
                lineitem.slice(k * step, step),
                os.path.join(tmp, "lineitem", f"part-{k:05d}.parquet"),
            )
        orders = pa.table(
            {
                "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, N_ORDERS // 10, N_ORDERS), pa.int64()),
                "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, N_ORDERS)]),
                "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, N_ORDERS), 2)),
            }
        )
        os.makedirs(os.path.join(tmp, "orders"))
        pq.write_table(orders, os.path.join(tmp, "orders", "part-00000.parquet"))

    return _publish(final, build)


def documents(seed: int, root: str = CACHE_DIR, n_docs: int = N_DOCS) -> str:
    """``documents/`` parquet directory of ``n_docs`` seeded texts drawn
    like the pool's: random texts over ``DOC_VOCAB``, then ``DUP_SHARE``
    of the rows replaced, one after another, by another row's text plus
    " dup". The small vocabulary also makes long random texts similar, so
    clusters grow beyond the planted pairs."""
    final = os.path.join(root, "inputs", "documents", f"{GENERATOR}_s{seed}_n{n_docs}")

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, 3])
        vocab = np.array(DOC_VOCAB)
        texts = [" ".join(rng.choice(vocab, size=rng.integers(*DOC_WORDS))) for _ in range(n_docs)]
        for i in rng.choice(n_docs, size=round(DUP_SHARE * n_docs), replace=False):
            texts[i] = texts[rng.integers(n_docs)] + " dup"
        ids = np.arange(n_docs)
        docs = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
                "source": pa.array([f"src{i % SOURCES}" for i in ids]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        os.makedirs(os.path.join(tmp, "documents"))
        pq.write_table(docs, os.path.join(tmp, "documents", "part-00000.parquet"))

    return _publish(final, build)


if __name__ == "__main__":
    # ``python3 perfbench/inputs.py TMP SEED PART``: one share of the image
    # table, run by ``images``
    _image_files(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
