"""The workloads: ``ingest`` and ``analytics``.

Each workload has the same shape, which ``run.py`` drives:

- ``setup()``: one-time program work before the first timed operation
  (counted in ``setup_s``);
- ``prepare()``: untimed preparation that needs the session: the
  ``analytics`` warm-up (its output checked), the ``ingest`` sink's
  starting rows;
- ``next_input(i)``: generates operation ``i``'s input (untimed);
- ``op(i, input, traced)``: operation ``i`` of the closed loop; returns
  ``(units, latency_s, ok)`` where units are documents or queries, the
  latency covers the program call alone and ``ok`` is the output check,
  made after the latency is taken. With ``traced`` on, the operation calls
  the program layer by layer, each layer in its own span, with the layer's
  output materialized at the boundary;
- ``block``: how many operations make one step of the loop;
- ``layer_metrics()``: the per-layer values the traced operations recorded.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time

from corpus import NC_TYPES, CorpusGenerator, write_batch
from tables import write_invoice_tables

INGEST_BATCH_DOCS = 40
INGEST_EARLIER_BATCHES = 2
ANALYTICS_SCALE = 0.02  # a fifth of the sf0.1 row counts: 30k orders, ~120k lineitems
ANALYTICS_TABLES = ("lineitem", "orders", "supplier", "part", "nation", "region")
ANALYTICS_QUERIES = (
    "a1_docs_per_invoice",
    "a2_invoice_value",
    "a3_top_suppliers",
    "a4_top_descriptions",
    "a5_monthly_spend",
)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's marker and checksum
    files are not counted."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    block = 1

    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self.layer: dict[str, list[float]] = {}

    def setup(self) -> None:
        pass

    def prepare(self) -> None:
        pass

    def _add(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def layer_metrics(self) -> dict[str, float]:
        return {k: _median(v) for k, v in self.layer.items()}


class Ingest(Workload):
    """One batch of generated files through ``run_extraction_pipeline``
    into the dedup sink. The sink starts the run holding what two earlier
    batches left in it and grows with every batch; each batch re-sends
    documents of earlier ones, so the anti-join keeps the batch's new
    documents and drops its re-sent ones."""

    unit = "docs"

    def __init__(self, spark, tracer, work: str, seed: int):
        super().__init__(spark, tracer)
        self.in_dir = os.path.join(work, "in")
        self.sink = os.path.join(work, "sink")
        self.gen = CorpusGenerator(seed, INGEST_BATCH_DOCS)

    def prepare(self) -> None:
        """Write the sink's key rows as two earlier batches leave them:
        through ``insert_dataframe`` a batch leaves one row per invoice key
        and one row with null keys (README.md, defect 1). Only the columns
        the sink's anti-join and the output check read are written; a batch
        through the program would cost as much as the timed one."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = [("nc_award_letter", f"earlier-{k}", None, None, None)
                for k in range(INGEST_EARLIER_BATCHES)]
        for k in range(INGEST_EARLIER_BATCHES):
            rows += [("invoice", d.relpath, *d.invoice_key, d.total_amount)
                     for d in self.gen.batch(k) if d.doc_type == "invoice" and not d.resent]
        cols = list(zip(*rows))
        os.makedirs(self.sink)
        pq.write_table(pa.table({
            "doc_type": pa.array(cols[0], pa.string()),
            "file": pa.array(cols[1], pa.string()),
            "invoice_number": pa.array(cols[2], pa.string()),
            "supplier_name": pa.array(cols[3], pa.string()),
            "total_amount": pa.array(cols[4], pa.float64()),
        }), os.path.join(self.sink, "part-earlier.parquet"))
        self.sink_rows = len(rows)
        self.sink_keys = {(r[2], r[3]): 1 for r in rows if r[2] is not None}

    def _records_check(self, rows, docs, batch_dir) -> tuple[bool, int]:
        """Parsed records against the manifest. Returns (ok, records the
        reference semantics give that are missing). Missing records are
        allowed only where a recorded defect loses them: image receipts
        yield no text lines, and item C vendor lines need a double space
        that text-layer extraction collapses."""
        by_file: dict[str, list] = {}
        for r in rows:
            rel = os.path.relpath(r.file.removeprefix("file:"), batch_dir)
            by_file.setdefault(rel, []).append(r)
        ok, missing = True, 0
        for d in docs:
            got = by_file.get(d.relpath, [])
            if d.doc_type == "receipt":
                missing += d.records
                continue
            if not got or any(r.doc_type != d.doc_type for r in got):
                ok = False
                continue
            if d.doc_type in NC_TYPES:
                ok &= sorted({r.contract_id for r in got}) == sorted(d.contract_ids)
            if d.doc_type == "nc_item_c":
                ok &= len(got) == len(d.contract_ids)
                missing += d.records - len(got)
            elif d.doc_type == "invoice":
                ok &= len(got) == d.records and all(
                    (r.invoice_number, r.supplier_name) == d.invoice_key
                    and abs(r.total_amount - d.total_amount) < 0.005
                    for r in got
                )
            else:
                ok &= len(got) == d.records
        return ok, missing

    def _sink_state(self) -> tuple[int, dict, dict]:
        from pyspark.sql import functions as F

        t = self.spark.read.parquet(self.sink)
        keyed = (
            t.filter(F.col("invoice_number").isNotNull() & F.col("supplier_name").isNotNull())
            .groupBy("invoice_number", "supplier_name")
            .agg(F.count(F.lit(1)).alias("n"), F.max("total_amount").alias("total"))
            .collect()
        )
        counts = {(r.invoice_number, r.supplier_name): r.n for r in keyed}
        totals = {(r.invoice_number, r.supplier_name): r.total for r in keyed}
        return t.count(), counts, totals

    def _sink_check(self, docs, inserted: int) -> bool:
        """The inserted count matches the rows the sink gained; every
        invoice sent is in the sink with its manifest total; re-sent
        invoices add no rows."""
        rows, counts, totals = self._sink_state()
        ok = rows - self.sink_rows == inserted
        for d in docs:
            if d.doc_type != "invoice":
                continue
            k = d.invoice_key
            if k in self.sink_keys:
                ok &= counts.get(k) == self.sink_keys[k]
            else:
                ok &= k in counts and abs(totals[k] - d.total_amount) < 0.005
        self.sink_rows, self.sink_keys = rows, counts
        return ok

    def next_input(self, i: int):
        docs = self.gen.batch(INGEST_EARLIER_BATCHES + i - 1)
        batch_dir = os.path.join(self.in_dir, f"b{i}")
        write_batch(docs, batch_dir)
        return docs, batch_dir

    def op(self, i: int, inp, traced: bool) -> tuple[int, float, bool]:
        docs, batch_dir = inp
        tr = self.tracer
        if not traced:
            from pdf_etl_pipeline_spark.plans.pipeline import run_extraction_pipeline

            with tr.group("ingest.op") as group:
                t = time.perf_counter()
                n = run_extraction_pipeline(self.spark, batch_dir, sink_path=self.sink)
                latency = time.perf_counter() - t
            if tr.enabled:
                rows = tr.counters.plan_node_rows(set(tr.counters.job_ids(group)), "MapInPandas")
                self._add("sources.extract_tasks_per_input_partition", rows / len(docs))
            return len(docs), latency, self._sink_check(docs, n)

        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.operators.dedup_sink import insert_dataframe
        from pdf_etl_pipeline_spark.parsers.nc import parse_documents_by_type
        from pdf_etl_pipeline_spark.sources.files import scan_corpus
        from pdf_etl_pipeline_spark.sources.pdf import extract_text_lines

        files_before = _dir_bytes(self.sink)
        with tr.span("ingest.op", i) as span:
            with tr.span("sources.scan_corpus", i):
                corpus = scan_corpus(self.spark, batch_dir).localCheckpoint()
            with tr.span("sources.extract_text_lines", i):
                lines = extract_text_lines(corpus).localCheckpoint()
            with tr.span("parsers.parse_documents_by_type", i):
                records = parse_documents_by_type(lines).localCheckpoint()
            with tr.span("operators.dedup_sink.insert", i) as ins:
                n = insert_dataframe(records, self.sink)
        latency = span["end"] - span["start"]
        files_after = _dir_bytes(self.sink)
        c = corpus.agg(F.count(F.lit(1)).alias("n"), F.sum("length").alias("b")).first()
        rows = records.select(
            "file", "doc_type", "contract_id", "invoice_number", "supplier_name", "total_amount"
        ).collect()
        parsed_ok, missing = self._records_check(rows, docs, batch_dir)
        self._add("sources.docs_in", c.n)
        self._add("sources.bytes_in", c.b)
        self._add("sources.docs_with_lines_frac", lines.filter(F.size("lines") > 0).count() / c.n)
        self._add("parsers.records_out", len(rows))
        self._add("parsers.docs_without_records_frac", (c.n - len({r.file for r in rows})) / c.n)
        self._add("parsers.records_short_of_manifest", missing)
        self._add("operators.dedup_sink.rows_in", len(rows))
        self._add("operators.dedup_sink.rows_inserted", n)
        self._add("operators.dedup_sink.null_key_rows_in",
                  sum(r.invoice_number is None and r.supplier_name is None for r in rows))
        self._add("operators.dedup_sink.jobs_per_insert", ins["spark"]["jobs"])
        self._add("operators.dedup_sink.files_written", files_after[0] - files_before[0])
        self._add("operators.dedup_sink.bytes_written", files_after[1] - files_before[1])
        return len(docs), latency, parsed_ok and self._sink_check(docs, n)


class Analytics(Workload):
    """The reference's five analytics queries over ``plans.invoices_view``,
    each run to its full result; one step of the loop runs all five twice,
    each time in an order the seed shuffles."""

    unit = "queries"
    block = 2 * len(ANALYTICS_QUERIES)

    def __init__(self, spark, tracer, work: str, seed: int):
        super().__init__(spark, tracer)
        self.data = os.path.join(work, "tables")
        write_invoice_tables(self.data, seed, ANALYTICS_SCALE)
        self.rng = random.Random(seed)
        self.order: list[str] = []
        self.oracle: dict = {}

    def setup(self) -> None:
        """Load the query catalog."""
        from pdf_etl_pipeline_spark.catalog import load_registry

        self.registry = load_registry()

    def prepare(self) -> None:
        """Warm-up, untimed: each query once, in catalog order, checked."""
        for q in ANALYTICS_QUERIES:
            if not self._check(q, self.registry[q].fn(self.spark, self.data).toPandas()):
                raise RuntimeError(f"analytics warm-up: {q} differs from its oracle")

    def _check(self, q: str, got) -> bool:
        """The result against the query's DuckDB oracle SQL (the one the
        catalog registers), compared as the repo's oracle checker does."""
        from check_oracle import compare

        if q not in self.oracle:
            import duckdb

            with duckdb.connect() as con:
                for t in ANALYTICS_TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
                self.oracle[q] = con.execute(self.registry[q].oracle).fetchdf()
        return not compare(q, got, self.oracle[q])

    def next_input(self, i: int) -> str:
        k = (i - 1) % len(ANALYTICS_QUERIES)
        if k == 0:
            self.order = list(ANALYTICS_QUERIES)
            self.rng.shuffle(self.order)
        return self.order[k]

    def op(self, i: int, q: str, traced: bool) -> tuple[int, float, bool]:
        fn = self.registry[q].fn
        tr = self.tracer
        if not traced:
            with tr.group("analytics.op"):
                t = time.perf_counter()
                got = fn(self.spark, self.data).toPandas()
                latency = time.perf_counter() - t
            return 1, latency, self._check(q, got)

        from pdf_etl_pipeline_spark.session import load_table

        with tr.span("analytics.op", i) as span:
            with tr.span("session.load_table", i):
                for t in ANALYTICS_TABLES:
                    load_table(self.spark, self.data, t).schema
            with tr.span(f"catalog.{q[:2]}", i):
                got = fn(self.spark, self.data).toPandas()
        return 1, span["end"] - span["start"], self._check(q, got)

    def layer_metrics(self) -> dict[str, float]:
        from pdf_etl_pipeline_spark.plans.invoices_view import invoices_df

        scanned = sum(self.spark.read.parquet(f"{self.data}/{t}.parquet").count() for t in ANALYTICS_TABLES)
        out = super().layer_metrics()
        out["plans.invoices_df.rows_scanned_per_row_out"] = scanned / invoices_df(self.spark, self.data).count()
        return out


WORKLOADS = {"ingest": Ingest, "analytics": Analytics}


def memo_caches_empty() -> bool:
    """The catalog's session memos (``dedup_q._PAIRS_CACHE``/``_DD5_CACHE``,
    ``similarity_q._CENTROID_CACHE``/``_PQ_CACHE``) must stay empty: no
    workload may time a memo hit."""
    for mod, names in (
        ("pdf_etl_pipeline_spark.catalog.dedup_q", ("_PAIRS_CACHE", "_DD5_CACHE")),
        ("pdf_etl_pipeline_spark.catalog.similarity_q", ("_CENTROID_CACHE", "_PQ_CACHE")),
    ):
        m = sys.modules.get(mod)
        if m is not None and any(getattr(m, n, None) for n in names):
            return False
    return True
