"""The benchmark's workloads.

Each workload generates its inputs from the seed and writes them as
parquet (benchmark work, not timed), sets up (reads and caches its
inputs; `geocode_communes` also builds its index), checks the outputs
of the timed plans in separate, untimed actions, and then runs its
timed cycle in a closed loop: one driver, one job at a time, each timed
sink a `noop` write so every output column is produced. Only the
default public API is called: `build_index` without size knobs and
`pip_join` without `strategy=`.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import time

import numpy as np

from . import gen, oracle

_URL_ID = re.compile(r"(\d+)$")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_parquet(path: str, columns: dict) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path)
    return path


def cached(spark, path: str, partitions: int):
    df = spark.read.parquet(path).repartition(partitions).cache()
    df.count()
    return df


class Run:
    """What one workload run records: per-phase samples of the timed
    cycles, failures, mismatches found by the checks, the checks' own
    figures, and per-layer counters."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.samples: dict = {}
        self.attempted = 0
        self.failed_ops: dict = {}
        self.wrong: dict = {}
        self.checks: dict = {}
        self.counters: dict = {}
        self.notes: list = []
        self.timing = True

    def op(self, phase: str, fn, span: str, op: str | None = None):
        """Run one timed operation; record its wall time, or a failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span, op):
                out = fn()
        except Exception as exc:  # a failed operation is counted, the run goes on
            import traceback

            traceback.print_exc()
            self.failed_ops[phase] = self.failed_ops.get(phase, 0) + 1
            self.notes.append(f"{phase}: {exc!r}"[:300])
            return None
        if self.timing:
            self.samples.setdefault(phase, []).append(time.perf_counter() - t0)
        return out

    @contextlib.contextmanager
    def warming(self):
        """Operations run here count as attempted, and as failed when
        they raise, but leave no timing sample and no span."""
        traced = self.tracer.enabled
        self.timing, self.tracer.enabled = False, False
        try:
            yield
        finally:
            self.timing, self.tracer.enabled = True, traced

    def mismatch(self, phase: str, what: str, count: int) -> None:
        if count:
            self.wrong[phase] = self.wrong.get(phase, 0) + int(count)
            self.notes.append(f"{phase}: {what} x{count}")

    def failed(self) -> int:
        """Failed operations. A phase with a wrong output fails every
        operation it ran, because they all executed the same
        deterministic plan, and at least one."""
        return sum(self.failed_ops.values()) + sum(
            max(1, len(self.samples.get(phase, []))) for phase in self.wrong
        )


class GeocodeCommunes:
    """Pages with a `geo:lat,lng` token, 30% on one hot cell, geocoded
    against a small commune layer whose index is built in set-up."""

    name = "geocode_communes"
    N_PAGES = 100_000
    HOT_SHARE = 0.3
    N_POLYGONS = 200
    INTERIOR = (8, 14, 96)
    EXTERIOR = (8, 13, 48)

    def __init__(self, seed: int, data_dir: str):
        self.layer = gen.communes(seed, self.N_POLYGONS)
        self.pages = gen.pages(seed, self.N_PAGES, self.HOT_SHARE, gen.hot_point(seed, self.layer))
        self.n_items = self.N_PAGES
        self.path = write_parquet(
            os.path.join(data_dir, "pages.parquet"), {k: self.pages[k] for k in ("url", "text")}
        )

    def setup(self, spark, run: Run, partitions: int) -> None:
        from insideout_spark.geo.cover import CoverParams
        from insideout_spark.plans.index_build import build_index

        self.pages_df = cached(spark, self.path, partitions)
        with run.tracer.span("plans.index_build.build_index", "build_index"):
            self.idx = build_index(
                spark, self.layer, CoverParams(*self.INTERIOR), CoverParams(*self.EXTERIOR)
            )
        with run.tracer.span("plans.index_build.edges", "build_index"):
            self.idx.edges()

    def release(self) -> None:
        self.idx.release()
        self.pages_df.unpersist()

    def _geocode(self):
        from insideout_spark.plans.pip_join import pip_join
        from insideout_spark.sources.pages import extract_points

        return pip_join(extract_points(self.pages_df), self.idx, include_properties=True)

    def cycle(self, run: Run) -> None:
        run.op("geocode", lambda: noop(self._geocode()), "geocode", "geocode")

    def metrics(self, run: Run) -> dict:
        r = self.n_items / statistics.median(run.samples["geocode"])
        return {"items_per_s": r, "named": {"geocode_pages_per_s": (r, "1/s")}}

    def verify(self, run: Run) -> None:
        """Every (page, feature_id, loop_pos) hit against the brute-force
        oracle, and each hit's commune name from the joined properties."""
        from pyspark.sql import functions as F

        pdf = self._geocode().select(
            "url", "feature_id", "loop_pos", "is_sure_hit", F.col("properties")["name"].alias("name")
        ).toPandas()
        page = np.fromiter((int(_URL_ID.search(u).group(1)) for u in pdf["url"]), np.int64, len(pdf))
        got = oracle.hit_keys(page, pdf["feature_id"].to_numpy(), pdf["loop_pos"].to_numpy())
        cmp = oracle.compare_keys(oracle.brute_force_pip(self.pages["lat"], self.pages["lng"], self.layer), got)
        run.checks["geocode"] = cmp
        run.mismatch("geocode", "missing hit", cmp["missing"])
        run.mismatch("geocode", "extra hit", cmp["extra"])
        run.mismatch("geocode", "duplicate hit", cmp["duplicates"])
        if cmp["digest"] != cmp["expected_digest"] and not (cmp["missing"] or cmp["extra"] or cmp["duplicates"]):
            run.mismatch("geocode", "digest", 1)
        names = np.array([f"commune-{int(f):05d}" for f in pdf["feature_id"]], dtype=object)
        run.mismatch("geocode", "wrong properties", int((pdf["name"] != names).sum()))
        hits = len(pdf)
        run.counters["plans.pip_join.probe.hit_rows"] = hits
        run.counters["plans.pip_join.probe.hits_per_point"] = hits / self.N_PAGES
        run.counters["plans.pip_join.probe.sure_hit_share"] = (
            float(pdf["is_sure_hit"].sum()) / hits if hits else 0.0
        )

    def trace_extras(self, run: Run, reps: int) -> None:
        """Each layer of the geocode path on its own: extraction, the
        probe on pre-extracted points, the index's sizes, and the
        coverer called on the driver with the workload's rings."""
        from pyspark.sql import functions as F

        from insideout_spark.geo.cover import CoverParams, cover_rings
        from insideout_spark.plans.pip_join import pip_join
        from insideout_spark.sources.pages import extract_points

        for _ in range(reps):
            with run.tracer.span("sources.pages.extract_points", "extract_points"):
                noop(extract_points(self.pages_df))
        pts = extract_points(self.pages_df).cache()
        run.counters["sources.pages.extract_points.rows_out_per_in"] = pts.count() / self.N_PAGES
        for _ in range(reps):
            with run.tracer.span("plans.pip_join.probe", "pip_join"):
                noop(pip_join(pts, self.idx, include_properties=True))
        pts.unpersist()

        row = self.idx.cell_index.agg(
            F.count("*").alias("n"), F.sum(F.col("is_interior").cast("long")).alias("i")
        ).first()
        run.counters["plans.index_build.cell_rows"] = int(row["n"])
        run.counters["plans.index_build.interior_cell_share"] = int(row["i"] or 0) / max(1, int(row["n"]))
        run.counters["plans.index_build.edge_rows"] = self.idx.edges().count()

        rings = [np.asarray(r["ring"], dtype=np.float64) for r in self.layer]
        with run.tracer.span("geo.cover.cover_rings"):
            ins = cover_rings(rings, CoverParams(*self.INTERIOR), interior=True)
            out = cover_rings(rings, CoverParams(*self.EXTERIOR), interior=False)
        run.counters["geo.cover.cover_rings.cells"] = sum(map(len, ins)) + sum(map(len, out))


class NearDupCorpus:
    """A Zipf-vocabulary corpus with edited copies and one oversized
    opening-bigram block: minhash LSH -> connected components timed,
    exact ngram Jaccard pairs checked (and timed when traced)."""

    name = "neardup_corpus"
    N_DOCS = 10_500
    MINHASH_T = 0.35
    NGRAM_T = 0.3

    def __init__(self, seed: int, data_dir: str):
        ids, self.texts = gen.corpus(seed, self.N_DOCS)
        self.n_items = self.N_DOCS
        self.path = write_parquet(os.path.join(data_dir, "docs.parquet"), {"doc_id": ids, "text": self.texts})

    def setup(self, spark, run: Run, partitions: int) -> None:
        self.docs = cached(spark, self.path, partitions)

    def release(self) -> None:
        self.docs.unpersist()

    def _pairs(self):
        from insideout_spark.plans.webtext import minhash_lsh_pairs

        return minhash_lsh_pairs(self.docs, threshold=self.MINHASH_T)

    def _ngram(self):
        from insideout_spark.plans.webtext import ngram_jaccard_pairs

        return ngram_jaccard_pairs(self.docs, threshold=self.NGRAM_T)

    def cycle(self, run: Run) -> None:
        from insideout_spark.plans.components import connected_components

        pairs = run.op("minhash", self._pairs, "plans.webtext.minhash_lsh_pairs", "minhash_lsh_pairs")
        if pairs is not None:
            run.op("components", lambda: noop(connected_components(pairs)),
                   "plans.components.connected_components", "connected_components")

    def metrics(self, run: Run) -> dict:
        dedup = [a + b for a, b in zip(run.samples["minhash"], run.samples["components"])]
        d = self.n_items / statistics.median(dedup)
        named = {"dedup_docs_per_s": (d, "1/s")}
        if "ngram" in run.samples:
            # the single, cold ngram call of the check: printed, not bounded
            named["ngram_docs_per_s"] = (self.n_items / run.samples["ngram"][0], "1/s")
        return {"items_per_s": d, "named": named}

    def verify(self, run: Run) -> None:
        """Minhash pair rules, connected-components invariants, and the
        exact Jaccard of every ngram pair."""
        from insideout_spark.plans.components import connected_components

        pairs = self._pairs()
        p = pairs.toPandas()
        c = connected_components(pairs).toPandas()
        run.mismatch("minhash", "bad pair", oracle.check_minhash_pairs(
            p["doc_a"], p["doc_b"], p["est_jaccard"], self.MINHASH_T))
        run.mismatch("components", "bad component row", oracle.check_components(
            p["doc_a"], p["doc_b"], c["node"], c["component_id"]))
        run.counters["plans.webtext.minhash_lsh_pairs.pairs"] = len(p)
        run.counters["plans.components.connected_components.nodes"] = len(c)
        run.counters["plans.components.connected_components.components"] = int(c["component_id"].nunique())
        # one operation of its own, so it counts in `attempted` and a
        # wrong pair fails it
        q = run.op("ngram", lambda: self._ngram().toPandas(), "check.ngram_jaccard_pairs")
        if q is None:
            return
        chk = oracle.check_ngram_pairs(self.texts, q["doc_a"], q["doc_b"], q["jaccard"], self.NGRAM_T)
        run.checks["ngram"] = chk
        run.mismatch("ngram", "pair with wrong Jaccard", chk["wrong"])
        run.counters["plans.webtext.ngram_jaccard_pairs.pairs"] = chk["pairs"]
        run.counters["plans.webtext.ngram_jaccard_pairs.precision"] = chk["precision"]

    def trace_extras(self, run: Run, reps: int) -> None:
        """The signature pass on its own, and the ngram pairs: one call
        takes about 11 s here and its time moved by half between runs,
        so it is timed only in traced runs, never bounded."""
        from insideout_spark.plans.webtext import minhash_signatures

        for _ in range(reps):
            with run.tracer.span("plans.webtext.minhash_signatures", "minhash_signatures"):
                noop(minhash_signatures(self.docs))
        for _ in range(reps):
            with run.tracer.span("plans.webtext.ngram_jaccard_pairs", "ngram_jaccard_pairs"):
                noop(self._ngram())


WORKLOADS = {w.name: w for w in (GeocodeCommunes, NearDupCorpus)}
