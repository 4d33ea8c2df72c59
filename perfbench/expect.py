"""Expected outputs of each workload, computed without the library.

Images: the closed-form defect manifest of ``oblate_spark.fixtures``
over the seed's index range. Table and dedup: the repository's DuckDB
oracle texts (``__spark_entry__.oracle_sql()``) over the generated
parquet, plus a few oracles of the same style for the calls that have
none. Row sets are compared through an order-free digest (row count and
a sum of md5 prefixes) that the Spark side computes with the same
formula, so a timed run collects a handful of numbers, not its rows.

Expectations depend only on the inputs and the oracle texts; they are
cached next to the inputs under a hash of the oracle texts.
"""

from __future__ import annotations

import hashlib
import json
import os

TDIGEST_PROBS = (0.25, 0.5, 0.75)

VIOLATION_COLS = ("row_id", "field_key", "error_code", "message")


def row_hash(values) -> int:
    """32-bit md5 prefix of the values joined by U+001F, NULL as U+0000.
    Mirrored on the Spark side by ``workloads.digest``."""
    text = "\x1f".join("\x00" if v is None else str(v) for v in values)
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:8], 16)


def digest(rows) -> list[int]:
    n = s = 0
    for r in rows:
        n += 1
        s += row_hash(r)
    return [n, s]


def image_manifest(offset: int, n: int) -> dict[str, int]:
    """Violation counts by error code for fixture rows
    ``[offset, offset + n)`` (the same mapping as the ``image_validation``
    golden oracle, over an offset range)."""
    from oblate_spark.fixtures import defect_for_index

    d: dict[str, int] = {}
    for i in range(offset, offset + n):
        k = defect_for_index(i)
        if k:
            d[k] = d.get(k, 0) + 1
    g = d.get
    out = {
        "field.none_disallowed": g("caption_null", 0),
        "image.decode_failed": g("bad_bytes", 0),
        "image.dims_mismatch": g("dims_mismatch", 0),
        "image.phash_mismatch": g("stale_phash", 0),
        "validate.range": g("w_range", 0),
        "validate.length": g("caption_overlength", 0),
        "literal.invalid_value": g("bad_fmt", 0),
        "image.fmt_mismatch": g("bad_fmt", 0),
        # image_id dups pair with their base row; phash dups are the hot
        # bucket plus the dup_phash pair rows
        "unique.duplicate": 2 * g("dup_image_id", 0) + g("hot_phash", 0) + g("dup_phash", 0),
    }
    return {k: v for k, v in out.items() if v}


def _oracles() -> dict[str, str]:
    import __spark_entry__

    return __spark_entry__.oracle_sql()


def _connect(views: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def _uniqueness_sql(keys: tuple[str, ...]) -> str:
    parts = [
        f"""SELECT row_id, '{k}' AS field_key, 'unique.duplicate' AS error_code,
                   'Duplicate value for unique key ({k}): appears ' || cnt::VARCHAR || ' times' AS message
            FROM (SELECT row_id, count(*) OVER (PARTITION BY {k}) AS cnt, {k} AS kv FROM li)
            WHERE kv IS NOT NULL AND cnt > 1"""
        for k in keys
    ]
    return (
        "WITH li AS (SELECT *, l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR AS row_id "
        "FROM lineitem) " + " UNION ALL ".join(parts)
    )


UNIQUE_KEYS = ("row_id", "l_extendedprice")
PROFILE_COLS = ("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")


def _table(root: str) -> dict:
    o = _oracles()
    con = _connect({"lineitem": f"{root}/lineitem", "orders": f"{root}/orders"})
    q = lambda sql: con.execute(sql).fetchall()  # noqa: E731
    profile = {
        r[0]: {"min": r[1], "max": r[2], "null_rate": r[3], "distinct": r[4], "rows": r[5]}
        for r in q(o["column_profile_lineitem"])
    }
    quantiles = {}
    for key, lo, hi, n, *vals in q(
        "SELECT l_returnflag, min(l_extendedprice), max(l_extendedprice), "
        "count(l_extendedprice), "
        + ", ".join(f"quantile_cont(l_extendedprice, {p})" for p in TDIGEST_PROBS)
        + " FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 1"
    ):
        quantiles[key] = {"lo": lo, "hi": hi, "n": n, "q": vals}
    out = {
        "rows": q("SELECT count(*) FROM lineitem")[0][0],
        "typed": digest(q(o["validate_lineitem"])),
        "staged": digest(q(o["validate_staged_lineitem"])),
        "profile": profile,
        "unique": digest(q(_uniqueness_sql(UNIQUE_KEYS))),
        "referential": digest(q(o["referential_lineitem_orders"])),
        "psi": q(o["psi_extendedprice"])[0][0],
        "ks": q(o["ks_extendedprice"])[0][0],
        "quantiles": quantiles,
    }
    con.close()
    return out


def _dedup(root: str) -> dict:
    from __spark_entry__ import JACCARD_THRESHOLD

    o = _oracles()
    con = _connect({"documents": f"{root}/documents"})
    q = lambda sql: con.execute(sql).fetchall()  # noqa: E731
    jac = q(o["jaccard_on_lsh_candidates"])
    best = q(o["keep_best_canonical_documents"])
    out = {
        "rows": q("SELECT count(*) FROM documents")[0][0],
        "candidates": digest(q(o["lsh_candidates_documents"])),
        "verify": digest((a, b) for a, b, _ in jac),
        "pairs_kept": sum(1 for *_, j in jac if j >= JACCARD_THRESHOLD),
        "jaccard_sum": sum(j for *_, j in jac),
        "clusters": digest(q(o["dup_clusters_documents"])),
        "canonical": digest((c, d, n) for c, d, _, n in best),
        "canonical_score_sum": sum(s for _, _, s, _ in best),
    }
    con.close()
    return out


def expected(kind: str, root: str, seed: int) -> dict:
    """Expectation for workload input family ``kind`` ("images",
    "table" or "documents") whose inputs live in ``root``."""
    if kind == "images":
        from inputs import N_IMAGES, image_offset

        return {"rows": N_IMAGES, "by_code": image_manifest(image_offset(seed), N_IMAGES)}
    key = hashlib.sha256(json.dumps(_oracles(), sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(root, f"expect-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = _table(root) if kind == "table" else _dedup(root)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


if __name__ == "__main__":
    # ``python3 perfbench/expect.py KIND ROOT SEED`` from the root of a
    # checkout prints the expectation as JSON; the benchmark runs it in a
    # process of its own so that DuckDB's memory is returned before the
    # JVM starts
    import sys

    sys.path.insert(0, os.getcwd())
    print(json.dumps(expected(sys.argv[1], sys.argv[2], int(sys.argv[3]))))
