"""The workloads: one run each, driven through the library's public
functions, with its output checked against the expectation.

A run is a sequence of phases. ``Tracer`` wraps each phase: with tracing
off it does nothing; with tracing on it sets the phase's job group,
times the phase and its lazy calls, plans each action before running it
(``driver.plan_s``) and afterwards harvests Spark's counters for the run.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import expect

_ENTRY = None


def _entry():
    """``__spark_entry__`` for its shared constants (imported lazily so
    the module loads before the checkout is on ``sys.path``)."""
    global _ENTRY
    if _ENTRY is None:
        import __spark_entry__

        _ENTRY = __spark_entry__
    return _ENTRY


class Tracer:
    """Spans and counters of one run; inert unless ``enabled``."""

    def __init__(self, spark, counters=None, tag: str = ""):
        self.enabled = counters is not None
        self._sc = spark.sparkContext
        self._counters = counters
        self._tag = tag
        self.spans: dict[str, float] = {}
        self.counts: dict[str, float] = {}

    def _add(self, name: str, value: float) -> None:
        self.spans[name] = self.spans.get(name, 0.0) + value

    @contextmanager
    def phase(self, name: str):
        if not self.enabled:
            yield
            return
        group = f"{self._tag}/{name}"
        self._sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._add(name, time.perf_counter() - t0)
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def call(self, span: str, fn, *args, **kwargs):
        """Time a lazy library call under ``span``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self._add(span, time.perf_counter() - t0)
        return out

    def plan(self, df: DataFrame) -> DataFrame:
        """Build the physical plan before the action, timed."""
        if self.enabled:
            t0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            self._add("driver.plan_s", time.perf_counter() - t0)
        return df

    def harvest(self) -> dict:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        return self._counters.harvest(self._tag + "/")


def digest(tr: Tracer, df: DataFrame, cols, sums=()) -> list:
    """``[row count, sum of md5 prefixes of cols, *sums]`` of ``df`` in
    one action; the Spark twin of ``expect.digest``."""
    text = F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols])
    h = F.conv(F.substring(F.md5(text), 1, 8), 16, 10).cast("long")
    aggs = [F.count(F.lit(1)), F.coalesce(F.sum(h), F.lit(0))]
    aggs += [F.coalesce(F.sum(F.col(c).cast("double")), F.lit(0.0)) for c in sums]
    # a global aggregate has one row; collect() runs the plan just built,
    # where first() would plan a limit(1) on top of it again
    return list(tr.plan(df.agg(*aggs)).collect()[0])


class Workload:
    """One named workload over one seed's inputs. ``spec`` maps each
    input family the workload reads (images, table, documents) to its
    expectation plus the ``root`` directory of its inputs."""

    name = ""
    families: tuple[str, ...] = ()

    def __init__(self, spark, spec: dict):
        self.spark = spark
        self.exp = spec[self.families[0]]
        self.root = self.exp["root"]

    @classmethod
    def rows_in(cls, spec: dict) -> int:
        """Input rows one run validates."""
        return sum(spec[f]["rows"] for f in cls.families)

    def run(self, tr: Tracer) -> list[str]:
        """One run; returns the mismatches against the expectation."""
        raise NotImplementedError


class Images(Workload):
    """``validate_image_table`` over one seed's image table, once per
    entry of ``paths``: (phase name, file-driven). Rows count each image
    once per call."""

    families = ("images",)
    paths: tuple[tuple[str, bool], ...] = ()

    @classmethod
    def rows_in(cls, spec: dict) -> int:
        return super().rows_in(spec) * len(cls.paths)

    def run(self, tr: Tracer) -> list[str]:
        return [f"{phase}: {bad}" for phase, file_driven in self.paths
                for bad in self._validate(tr, phase, file_driven)]

    def _validate(self, tr: Tracer, phase: str, file_driven: bool) -> list[str]:
        from oblate_spark.operators.images import release_report, validate_image_table

        with tr.phase(phase):
            df = self.spark.read.parquet(self.root)
            src = self.root if file_driven else None
            out = tr.call("compiler.validate_call_s", validate_image_table, df, source_path=src)
            counts = tr.plan(out.groupBy("error_code").count()).collect()
            release_report(out)
        got = {r["error_code"]: r["count"] for r in counts}
        tr.counts["images.decode_failed"] = got.get("image.decode_failed", 0)
        want = self.exp["by_code"]
        return [f"{k}: got {got.get(k)} want {want.get(k)}"
                for k in sorted(set(got) | set(want)) if got.get(k) != want.get(k)]


class ImagesFromFiles(Images):
    name = "img_files"
    paths = (("images.files_s", True),)


class ImagesFromFrame(Images):
    name = "img_frame"
    paths = (("images.frame_s", False),)


class ImagesBothPaths(Images):
    """The file-driven call, then the DataFrame-driven call, in each run
    and in one JVM: both sides of the image-path choice, the Arrow
    transfer and its memory in one workload."""

    name = "img"
    paths = ImagesFromFiles.paths + ImagesFromFrame.paths


def _lineitem_schema():
    """The row-level plan of the ``validate_lineitem`` query."""
    from oblate_spark import Schema, fields
    from oblate_spark import validate as V

    class LineitemRow(Schema):
        l_quantity = fields.Float(validators=[V.Range(1, 49)])
        l_returnflag = fields.Literal("A", "N")

    return LineitemRow


class Table(Workload):
    name = "table"
    families = ("table",)

    def __init__(self, spark, spec):
        super().__init__(spark, spec)
        self.schema = _lineitem_schema()

    def run(self, tr: Tracer) -> list[str]:
        from oblate_spark.operators.drift import drift_statistics_flagged, grouped_tdigest_quantiles
        from oblate_spark.operators.stats import (
            column_profile,
            multi_key_uniqueness_violations,
            referential_violations,
        )

        e = _entry()
        bad: list[str] = []
        exp = self.exp

        def check(what, got, want):
            if got != want:
                bad.append(f"{what}: got {got} want {want}")

        li = self.spark.read.parquet(f"{self.root}/lineitem")
        rid = F.concat(F.col("l_orderkey").cast("string"), F.lit("_"), F.col("l_linenumber").cast("string"))
        li_rid = li.withColumn("row_id", rid)
        cols = expect.VIOLATION_COLS

        with tr.phase("typed"):
            res = tr.call("compiler.validate_call_s", self.schema.validate,
                          li_rid, row_id="row_id", ignore_extra=True)
            check("typed", digest(tr, res.violations, cols), exp["typed"])

        with tr.phase("staged"):
            staged = li_rid.select(
                "row_id",
                F.when(F.col("l_orderkey") % 97 == 0, F.lit('"bad"'))
                .otherwise(F.col("l_quantity").cast("string")).alias("l_quantity"),
                F.concat(F.lit('"'), F.col("l_returnflag"), F.lit('"')).alias("l_returnflag"),
            )
            res = tr.call("compiler.validate_call_s", self.schema.validate,
                          staged, mode="staged", row_id="row_id", ignore_extra=True)
            check("staged", digest(tr, res.violations, cols), exp["staged"])

        with tr.phase("stats.profile_s"):
            prof = tr.plan(column_profile(li, list(expect.PROFILE_COLS))).collect()
        for r in prof:
            want = exp["profile"][r["column"]]
            check(f"profile {r['column']}",
                  (r["min_value"], r["max_value"], round(r["null_rate"], 9), r["row_count"]),
                  (want["min"], want["max"], round(want["null_rate"], 9), want["rows"]))
            if abs(r["distinct_count"] - want["distinct"]) > 0.15 * want["distinct"]:
                bad.append(f"profile {r['column']} distinct {r['distinct_count']} vs {want['distinct']}")

        with tr.phase("stats.unique_s"):
            uniq = multi_key_uniqueness_violations(li_rid, list(expect.UNIQUE_KEYS), row_id="row_id")
            check("unique", digest(tr, uniq, cols), exp["unique"])

        with tr.phase("stats.referential_s"):
            parent = self.spark.read.parquet(f"{self.root}/orders").filter(F.col("o_orderkey") % 7 != 0)
            dangling = referential_violations(li_rid, parent, fk="l_orderkey", pk="o_orderkey")
            check("referential", digest(tr, dangling, ("row_id", "l_orderkey")), exp["referential"])

        with tr.phase("drift.psi_ks_s"):
            drift = drift_statistics_flagged(
                li, col="l_extendedprice",
                expected_cond=F.col("l_returnflag") == "A", actual_cond=F.col("l_returnflag") == "N",
                lo=e.PRICE_LO, hi=e.PRICE_HI, nbins_psi=e.PSI_BINS, nbins_ks=e.KS_BINS, eps=e.PSI_EPS,
            )
        check("psi", round(drift["psi"], 6), exp["psi"])
        check("ks", round(drift["ks"], 6), exp["ks"])

        with tr.phase("drift.tdigest_s"):
            q = tr.plan(grouped_tdigest_quantiles(
                li.filter(F.col("l_returnflag").isNotNull()), "l_returnflag", "l_extendedprice",
                expect.TDIGEST_PROBS,
            )).collect()
        est = {(r["key"], r["quantile"]): r["value"] for r in q}
        for key, w in exp["quantiles"].items():
            span = w["hi"] - w["lo"]
            tol = max(0.01 * span, span / w["n"])
            for p, exact in zip(expect.TDIGEST_PROBS, w["q"]):
                v = est.get((key, p))
                if v is None or abs(v - exact) > tol:
                    bad.append(f"tdigest {key} q{p}: {v} vs {exact}")
        return bad


class Dedup(Workload):
    name = "dedup"
    families = ("documents",)

    def run(self, tr: Tracer) -> list[str]:
        from oblate_spark.operators.dedup import (
            duplicate_clusters,
            keep_best_canonical,
            lsh_candidate_pairs,
            ngram_jaccard_pairs,
        )
        from oblate_spark.operators.text import quality_score

        e = _entry()
        exp = self.exp
        bad: list[str] = []

        def check(what, got, want):
            if got != want:
                bad.append(f"{what}: got {got} want {want}")

        d = self.spark.read.parquet(f"{self.root}/documents")
        with tr.phase("dedup.lsh_s"):
            cand = lsh_candidate_pairs(d, id_col="doc_id", text_col="text", k=e.SHINGLE_K,
                                       num_hashes=e.NUM_HASHES, rows_per_band=e.ROWS_PER_BAND)
            cand = cand.select("id_a", "id_b")
            got = digest(tr, cand, ("id_a", "id_b"))
        check("candidates", got, exp["candidates"])
        tr.counts["dedup.candidates"] = got[0]

        with tr.phase("dedup.verify_s"):
            pairs = ngram_jaccard_pairs(d, id_col="doc_id", text_col="text", threshold=0.0, pairs=cand)
            kept = F.when(F.col("jaccard") >= e.JACCARD_THRESHOLD, 1).otherwise(0)
            n, h, jsum, n_kept = digest(tr, pairs.withColumn("kept", kept), ("id_a", "id_b"),
                                        sums=("jaccard", "kept"))
        check("verify", [n, h], exp["verify"])
        check("pairs_kept", int(n_kept), exp["pairs_kept"])
        if not math.isclose(jsum, exp["jaccard_sum"], abs_tol=1e-6 * max(n, 1)):
            bad.append(f"jaccard sum {jsum} vs {exp['jaccard_sum']}")
        tr.counts["dedup.pairs_kept"] = int(n_kept)

        with tr.phase("dedup.clusters_s"):
            clusters = duplicate_clusters(cand)
            got = digest(tr, clusters, ("id", "cluster_id"))
        check("clusters", got, exp["clusters"])

        with tr.phase("dedup.canonical_s"):
            scores = quality_score(d, id_col="doc_id", text_col="text").select("doc_id", "quality")
            best = keep_best_canonical(clusters, scores, id_col="doc_id", score_col="quality")
            n, h, ssum = digest(tr, best, ("cluster_id", "canonical_id", "n_members"),
                                sums=("canonical_score",))
        check("canonical", [n, h], exp["canonical"])
        if not math.isclose(ssum, exp["canonical_score_sum"], abs_tol=1e-6 * max(n, 1)):
            bad.append(f"canonical score sum {ssum} vs {exp['canonical_score_sum']}")
        return bad


class TableDedup(Workload):
    """``table`` then ``dedup`` in each run, in one JVM: every JVM-bound
    layer in one workload (rows: lineitem rows plus documents)."""

    name = "table_dedup"
    families = ("table", "documents")

    def __init__(self, spark, spec):
        self.parts = [Table(spark, spec), Dedup(spark, spec)]

    def run(self, tr: Tracer) -> list[str]:
        return [bad for p in self.parts for bad in p.run(tr)]


WORKLOADS = {w.name: w for w in (ImagesFromFiles, ImagesFromFrame, ImagesBothPaths, Table, Dedup, TableDedup)}
