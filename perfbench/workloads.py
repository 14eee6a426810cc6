"""The three benchmark workloads.

Each workload generates its inputs from the seed before Spark starts
(``generate``), gets a live session (``attach``), runs one operation per
``run`` call and checks the operation's output outside the timed region
(``check``). ``run`` returns the operation's wall time, the number of
input items it handled, an opaque result for ``check`` and the wall time
split into named parts (the pipeline's stages, or the one query run).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import importlib.util
import os
import shutil
import sys
import time

from inputs import Corpus, write_star_schema

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


class Workload:
    name = ""
    # Operations drawn together (a pass of the analyst mix). A traced run
    # alternates tracing op by op and flips the phase with each block.
    trace_block = 1
    # Fewest measured operations in a run. It is set so that they take
    # longer than ``--seconds``: every run then measures the same
    # operations, at the same point of the JVM's JIT warm-up.
    min_ops = 3
    # Operations run between the last set-up and the timed ones.
    warmup_ops = 1

    def __init__(self, work_dir: str, seed: int, tiny: bool):
        self.work_dir = work_dir
        self.seed = seed
        self.spark = None
        self.tracer = None

    def generate(self) -> None:
        pass

    def attach(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer

    def detach(self) -> None:
        self.spark = None

    def probe(self) -> str | None:
        """The cheap first call that ends each session set-up."""
        raise NotImplementedError

    def run(self, i: int):
        raise NotImplementedError

    def check(self, result) -> str | None:
        raise NotImplementedError

    def cleanup(self, result) -> None:
        pass

    def corrupt(self, result):
        """Return ``result`` with its output damaged (self-test only)."""
        raise NotImplementedError


@contextlib.contextmanager
def _patched(tracer, module, names: dict[str, str], parts: dict[str, float]):
    """Wrap module-level functions so each call opens a tracer span and
    adds its wall time to ``parts[layer]``."""
    saved = {attr: getattr(module, attr) for attr in names}

    def wrap(fn, layer):
        def traced(*a, **kw):
            t0 = time.perf_counter()
            try:
                with tracer.span(layer):
                    return fn(*a, **kw)
            finally:
                parts[layer] = parts.get(layer, 0.0) + time.perf_counter() - t0

        return traced

    for attr, layer in names.items():
        setattr(module, attr, wrap(saved[attr], layer))
    try:
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


class MedallionBatch(Workload):
    """smoke -> bronze -> silver -> gold over 1 KB payload rows, written as
    partitioned parquet into a fresh directory per operation."""

    name = "medallion_batch"
    # The first pipeline in a JVM costs ~3x a later one. A pipeline costs
    # ~6-8 s almost regardless of rows (fixed per-stage and per-file
    # costs), so three measured ones keep a run within budget.
    warmup_ops = 1
    min_ops = 3

    def __init__(self, work_dir, seed, tiny):
        super().__init__(work_dir, seed, tiny)
        self.rows = 2_000 if tiny else 20_000
        day = dt.date(2024, 1, 1) + dt.timedelta(days=seed % 366)
        self.as_of = f"{day.isoformat()} 12:00:00"

    def probe(self):
        from spark_lakehouse_medallion_pipeline_spark.medallion import pipeline

        pipeline.smoke(self.spark, os.path.join(self.work_dir, "probe"))
        return None

    def run(self, i):
        from spark_lakehouse_medallion_pipeline_spark.medallion import pipeline

        base = os.path.join(self.work_dir, f"medallion_{i}")
        layers = {
            "smoke": "medallion.pipeline.smoke",
            "run_bronze": "medallion.generate",
            "run_silver": "medallion.silver",
            "run_gold": "medallion.gold",
        }
        parts: dict[str, float] = {}
        with _patched(self.tracer, pipeline, layers, parts):
            t0 = time.perf_counter()
            stats = pipeline.run_pipeline(
                self.spark, base, rows=self.rows, payload_kb=1, as_of=self.as_of
            )
            wall = time.perf_counter() - t0
        # Whatever run_pipeline does outside the four stage calls.
        parts["medallion.pipeline"] = wall - sum(parts.values())
        return wall, self.rows, (base, stats), parts

    def check(self, result):
        from pyspark.sql import functions as F

        from spark_lakehouse_medallion_pipeline_spark.medallion import pipeline

        base, stats = result
        counts = pipeline.validate(self.spark, base)
        problems = []
        if counts["bronze_rows"] != self.rows:
            problems.append(f"bronze {counts['bronze_rows']} != {self.rows}")
        for layer in ("silver", "gold"):
            if counts[f"{layer}_rows"] != stats[f"{layer}_rows"]:
                problems.append(
                    f"{layer} validate {counts[f'{layer}_rows']} != "
                    f"stage {stats[f'{layer}_rows']}"
                )
        gold = pipeline.read_parquet(self.spark, f"{base}/{pipeline.GOLD_REL}")
        dates = gold.select(F.countDistinct("interaction_date")).head()[0]
        if dates != counts["gold_rows"]:
            problems.append(f"gold has {counts['gold_rows']} rows for {dates} dates")
        return "; ".join(problems) or None

    def stored_bytes(self, result) -> int:
        from spark_lakehouse_medallion_pipeline_spark.medallion import pipeline

        base = result[0]
        return sum(
            _dir_bytes(os.path.join(base, rel))
            for rel in (pipeline.BRONZE_REL, pipeline.SILVER_REL, pipeline.GOLD_REL)
        )

    def cleanup(self, result):
        shutil.rmtree(result[0], ignore_errors=True)

    def corrupt(self, result):
        from spark_lakehouse_medallion_pipeline_spark.medallion import pipeline

        gold = os.path.join(result[0], pipeline.GOLD_REL)
        victim = sorted(d for d in os.listdir(gold) if d.startswith("interaction_date="))[0]
        shutil.rmtree(os.path.join(gold, victim))
        return result


# Analyst mix: query -> the layer that executes it. Building any query
# (calling its function from ``queries()``) is the ``queries`` layer; the
# action that collects it is charged to the tag.
MIX = {
    "q01_pricing_summary": "queries.inline",
    "q19_daily_event_kpis": "queries.inline",
    "q133_salted_join": "operators.relational",
    "q24_asof_purchase_click": "operators.timeseries",
    "q36_knn_vec0": "operators.similarity",
    "q28_exact_dedup_docs": "operators.dedup.exact",
    "q33_minhash_candidates": "operators.dedup.lsh",
    "q95_sequence_packing": "operators.text.pack",
    "q285_stream_stream_interval_join": "streaming.jobs",
    "q252_partition_pruned_read": "sources.io",
}
PROBE_QUERY = "q01_pricing_summary"
# The analyst queries one fixed star schema, as analysts query one
# warehouse; the run's seed only orders the queries. Several of the mix's
# costs depend on the data (q33's candidate pairs on how alike the random
# documents are), so data drawn from the run's seed made runs differ by
# up to 70 % on one query.
STAR_SEED = 20240101
ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _load_oracle_helpers():
    """The value normalisation of the repository's DuckDB oracle gate."""
    path = os.path.join(ROOT, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def _digest(key_rows) -> str:
    h = hashlib.sha256()
    for row in key_rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


class AnalystMix(Workload):
    """One analyst, closed loop: build a query, collect every row, then
    send the next. Each pass runs the whole mix, in a fixed cyclic order
    from a starting query the seed picks."""

    name = "analyst_mix"

    def __init__(self, work_dir, seed, tiny):
        super().__init__(work_dir, seed, tiny)
        self.trace_block = self.warmup_ops = len(MIX)
        self.min_ops = 3 * len(MIX)
        self.sf_dir = os.path.join(work_dir, "star")
        self.sf = 0.002 if tiny else 0.01
        # query -> (row count, sorted column names, value digest); a query
        # without oracle SQL keeps the count and columns of its first run.
        self.expected: dict[str, tuple[int, list[str], str | None]] = {}
        # Every pass runs the mix in one cyclic order, from a starting
        # query the seed picks. The time of a query depends on the one
        # before it (q285 ran 25 % faster after q252 than after q24), so
        # a fresh random order per pass and per seed made whole runs
        # differ by up to 20 %; in the cycle each query always follows the
        # same one.
        start = seed % len(MIX)
        self.cycle = list(MIX)[start:] + list(MIX)[:start]
        self.pos = 0

    def generate(self):
        import duckdb

        import __spark_entry__ as entry

        write_star_schema(self.sf_dir, STAR_SEED, self.sf)
        self.helpers = _load_oracle_helpers()
        oracle = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ORACLE_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
            for q in MIX:
                if q not in oracle:
                    continue
                res = con.execute(oracle[q])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                self.expected[q] = (
                    len(rows),
                    sorted(cols),
                    _digest(self.helpers.frame_to_key_rows(cols, rows)),
                )
        finally:
            con.close()
        self.queries = entry.queries()

    def _next(self) -> str:
        q = self.cycle[self.pos % len(self.cycle)]
        self.pos += 1
        return q

    def probe(self):
        rows = self.queries[PROBE_QUERY](self.spark, self.sf_dir)
        return self.check((PROBE_QUERY, rows.columns, rows.collect()))

    def run(self, i):
        q = self._next()
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("queries"):
            df = self.queries[q](self.spark, self.sf_dir)
        with tr.span(MIX[q]):
            rows = df.collect()
        wall = time.perf_counter() - t0
        return wall, 1, (q, df.columns, rows), {q: wall}

    def check(self, result):
        q, cols, rows = result
        n, names, digest = self.expected.setdefault(q, (len(rows), sorted(cols), None))
        if sorted(cols) != names:
            return f"{q}: columns {sorted(cols)}, oracle {names}"
        if len(rows) != n:
            return f"{q}: {len(rows)} rows, oracle {n}"
        if digest is not None:
            got = _digest(self.helpers.frame_to_key_rows(cols, [tuple(r) for r in rows]))
            if got != digest:
                return f"{q}: values differ from the oracle"
        return None

    def detach(self):
        from spark_lakehouse_medallion_pipeline_spark.operators import relational

        relational.release_rank_caches()
        super().detach()

    def corrupt(self, result):
        q, cols, rows = result
        return q, cols, rows[1:]


class CurationCorpus(Workload):
    """Exact dedup -> MinHash-LSH near-dup removal -> sequence packing,
    each stage ending in a parquet write, over a corpus with planted
    exact copies and near-duplicates."""

    name = "curation_corpus"

    def __init__(self, work_dir, seed, tiny):
        super().__init__(work_dir, seed, tiny)
        self.corpus = Corpus(seed, 400 if tiny else 8_000)
        self.corpus_path = os.path.join(work_dir, "corpus.parquet")

    def generate(self):
        self.corpus.write(self.corpus_path)

    def probe(self):
        from spark_lakehouse_medallion_pipeline_spark.sources.io import read_parquet

        n = read_parquet(self.spark, self.corpus_path).count()
        return None if n == self.corpus.n_docs else f"corpus has {n} rows"

    def run(self, i):
        from pyspark.sql import functions as F

        from spark_lakehouse_medallion_pipeline_spark.operators import dedup, text
        from spark_lakehouse_medallion_pipeline_spark.sources.io import (
            read_parquet,
            write_parquet,
        )

        spark, tr = self.spark, self.tracer
        out = os.path.join(self.work_dir, f"curation_{i}")
        t0 = time.perf_counter()
        with tr.span("operators.dedup.exact"):
            docs = read_parquet(spark, self.corpus_path)
            write_parquet(dedup.drop_exact_duplicates(docs), f"{out}/exact")
        with tr.span("operators.dedup.lsh"):
            kept = read_parquet(spark, f"{out}/exact")
            write_parquet(
                dedup.minhash_lsh_candidates(kept).select("id_a", "id_b"),
                f"{out}/candidates",
            )
            higher = read_parquet(spark, f"{out}/candidates").select(
                F.col("id_b").alias("doc_id")
            )
            write_parquet(kept.join(higher, "doc_id", "left_anti"), f"{out}/survivors")
        with tr.span("operators.text.pack"):
            survivors = read_parquet(spark, f"{out}/survivors")
            write_parquet(text.pack_sequences(survivors), f"{out}/packs")
        wall = time.perf_counter() - t0
        return wall, self.corpus.n_docs, out, {"curation": wall}

    def quality(self, out) -> tuple[int, float, float]:
        """(candidate pairs, near-dup recall, near-dup precision)."""
        from spark_lakehouse_medallion_pipeline_spark.sources.io import read_parquet

        cands = {
            (r.id_a, r.id_b)
            for r in read_parquet(self.spark, f"{out}/candidates").collect()
        }
        planted = self.corpus.near_pairs
        hit = len(cands & planted)
        return len(cands), hit / len(planted), hit / max(len(cands), 1)

    def check(self, out):
        from spark_lakehouse_medallion_pipeline_spark.sources.io import read_parquet

        c = self.corpus
        problems = []
        n_exact = read_parquet(self.spark, f"{out}/exact").count()
        if n_exact != c.n_docs - c.n_exact:
            problems.append(f"exact dedup kept {n_exact}, planted {c.n_docs - c.n_exact}")
        _, recall, precision = self.quality(out)
        if recall != 1.0 or precision != 1.0:
            problems.append(f"near-dup recall {recall:.4f} precision {precision:.4f}")
        packs = read_parquet(self.spark, f"{out}/packs")
        n_packs = packs.count()
        if n_packs != c.n_orig:
            problems.append(f"{n_packs} packed docs, planted {c.n_orig}")
        return "; ".join(problems) or None

    def stored_bytes(self, out) -> int:
        return _dir_bytes(out)

    def cleanup(self, out):
        shutil.rmtree(out, ignore_errors=True)

    def corrupt(self, out):
        from spark_lakehouse_medallion_pipeline_spark.sources.io import (
            read_parquet,
            write_parquet,
        )

        # Forget one planted duplicate: the packs now hold one doc too many.
        packs = read_parquet(self.spark, f"{out}/packs")
        extra = packs.limit(1).withColumn("doc_id", packs.doc_id + 10**9)
        write_parquet(packs.unionByName(extra), f"{out}/packs_bad")
        shutil.rmtree(f"{out}/packs")
        os.rename(f"{out}/packs_bad", f"{out}/packs")
        return out


WORKLOADS = {w.name: w for w in (MedallionBatch, AnalystMix, CurationCorpus)}
