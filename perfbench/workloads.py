"""The benchmark's workloads. Each one stages seeded inputs (untimed),
then each iteration, in a fresh JVM, runs the timed call through the
program's public functions and verifies its outputs.

A workload exposes:

- ``docs``: input docs per iteration (the base of ``docs_per_s``);
- ``stage(seed, dest)``: write the seeded inputs under ``dest``;
- ``iterate(spark, out, tracer)``: the timed call; every output column
  is written to parquet under ``out`` (never ``.count()``, which lets
  Catalyst prune joins and Python kernels);
- ``verify(spark, out, result)``: a list of problems, empty when the
  outputs are correct. Every check is stateless: it compares with what
  follows from the seeded inputs alone;
- ``trace_extra(spark, out, tracer)``: untimed work that only a traced
  iteration does after its check;
- ``layers(spans, log)`` and ``run_layers()``: the per-layer numbers
  of a traced run, named in ``LAYERS``.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import harness


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _one(spans: list[dict], name: str) -> dict:
    found = [s for s in spans if s["name"] == name]
    if len(found) != 1:
        raise RuntimeError(f"expected one {name} span per iteration, got {len(found)}")
    return found[0]


# ------------------------------------------------------------------
# crawl_extract: checkpointed extraction of a seeded crawl
# ------------------------------------------------------------------


class CrawlExtract:
    """``pipeline.run_extraction`` over a staged ``sources.corpus`` table
    into a fresh output dir: the kernel, its Arrow transfer, the
    checkpoint/resume chunk loop and the bucket-partitioned write.

    A traced iteration then runs ``pipeline.run_assembly`` over its
    output, untimed, so that entity assembly and its table writes get
    per-layer numbers."""

    name = "crawl_extract"
    docs = 4000
    files = 8  # staged corpus files
    kernel_bench_docs = 200  # docs timed single-process for kernel us/doc

    # the tables run_assembly writes, each under its own span
    ASSEMBLY_TABLES = (
        "xtargets",
        "xtarget_aspects",
        "aspects",
        "connections",
        "links",
        "pins",
        "attributes",
        "object_attributes",
        "lineage",
        "errors",
        "metrics_partitions",
        "extracted_text",
        "spans",
        "metadata",
    )

    LAYERS = (
        "kernels.extract_document_us",
        "extraction.python_worker_s",
        "extraction.arrow_in_bytes",
        "extraction.arrow_out_bytes",
        "extraction.ceiling_share",
        "pipeline.run_extraction_s",
        "checkpoint.chunk_s",
        "checkpoint.scan_rows_ratio",
        "assembly.assemble_s",
        "assembly.plan_build_s",
        "assembly.requests_rows",
        "assembly.checkpoint_bytes",
    ) + tuple(f"catalog.write_table_s.{t}" for t in ASSEMBLY_TABLES)

    def __init__(self):
        self.corpus = None
        self.corpus_bytes = 0
        self.seed = None
        self._kernel_us = None
        self._want = None
        self._assembly: dict = {}

    def describe(self) -> dict:
        return {"docs": self.docs, "corpus_bytes": self.corpus_bytes, "seed": self.seed}

    def _doc(self, i: int) -> dict:
        from indu_doc_transformer_spark.sources.corpus import generate_doc

        return generate_doc(i, f"perfbench-{self.seed}")

    # -- inputs ------------------------------------------------------

    def stage(self, seed: int, dest: str) -> None:
        """The corpus table (``sources.corpus.CORPUS_SCHEMA``) as parquet
        files written from this process."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.seed = seed
        os.makedirs(dest, exist_ok=True)
        schema = pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us", tz="UTC")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        )
        per = -(-self.docs // self.files)
        for part in range(self.files):
            rows = [self._doc(i) for i in range(part * per, min(self.docs, (part + 1) * per))]
            cols = {f.name: [r[f.name] for r in rows] for f in schema}
            pq.write_table(
                pa.table(cols, schema=schema), os.path.join(dest, f"part-{part:04d}.parquet")
            )
        self.corpus = dest
        self.corpus_bytes = sum(e.stat().st_size for e in os.scandir(dest))

    # -- timed call --------------------------------------------------

    def iterate(self, spark, out: str, tracer) -> dict:
        from indu_doc_transformer_spark import pipeline

        chunks: list = []
        current = [None]

        def on_chunk(idx, n_chunks, buckets):
            chunks.append((idx, n_chunks, list(buckets)))
            if current[0] is not None:
                tracer.end(current[0])
            current[0] = tracer.begin("checkpoint.chunk")

        with tracer.span("input.read_corpus"):
            docs = spark.read.parquet(self.corpus)
        with tracer.span("pipeline.run_extraction"):
            try:
                stats = pipeline.run_extraction(docs, out, on_chunk=on_chunk)
            finally:
                if current[0] is not None:
                    tracer.end(current[0])
        return {"stats": stats, "chunks": chunks}

    # -- verification ------------------------------------------------

    def _expected(self) -> dict:
        """Every staged url's row as ``kernels.layout.extract_document``
        computes it in this process; computed once per run."""
        if self._want is not None:
            return self._want
        import pyarrow.parquet as pq

        from indu_doc_transformer_spark.kernels.layout import extract_document

        table = pq.read_table(self.corpus, columns=["url", "warc_ts", "lang", "html"])
        table = table.set_column(1, "warc_ts", table.column("warc_ts").cast("int64"))
        want = {}
        for url, ts_us, lang, html in zip(*(c.to_pylist() for c in table.columns)):
            r = extract_document(html)
            want[url] = {
                "ts_us": ts_us,
                "lang": lang,
                "page_no": 1,
                "page_type": r["page_type"],
                "footer": r["footer"],
                "extracted_text": r["extracted_text"],
                "spans": [
                    (s["region"], s["kind"], s["row_idx"], s["loc"], s["text"]) for s in r["spans"]
                ],
                "rows": [(x["row_idx"], x["cols"], x["loc"], x["loc_repr"]) for x in r["rows"]],
                "errors": [tuple(e) for e in r["errors"]],
            }
        self._want = want
        return want

    def verify(self, spark, out: str, result: dict) -> list[str]:
        """Run statistics, then every written row against the kernel run
        single-process on the staged html."""
        problems = []
        stats, chunks = result["stats"], result["chunks"]
        n_chunks = chunks[0][1] if chunks else 0
        if stats["skipped_buckets"] != 0 or stats["stopped"]:
            problems.append(f"extraction resumed from the registry or stopped: {stats}")
        if not chunks or stats["processed_chunks"] != n_chunks or len(chunks) != n_chunks:
            problems.append(f"{stats['processed_chunks']} of {n_chunks} chunks processed")
        observed = sum(o["docs"] for o in stats["observed"])
        if observed != self.docs:
            problems.append(f"chunks observed {observed} docs, {self.docs} staged")

        want = self._expected()
        from pyspark.sql import functions as F

        got = (
            spark.read.parquet(os.path.join(out, "extracted"))
            .withColumn("ts_us", F.unix_micros("warc_ts"))
            # partition ids and Arrow batch sizes depend on the layout
            .drop("partition_id", "kernel_docs", "warc_ts", "bucket")
            .collect()
        )
        urls = [r["url"] for r in got]
        if len(urls) != len(set(urls)) or set(urls) != set(want):
            problems.append(
                f"extracted {len(urls)} rows for {len(set(urls))} urls; "
                f"{len(set(want) - set(urls))} staged urls missing"
            )
        bad = []
        for row in got:
            have = {
                "ts_us": row["ts_us"],
                "lang": row["lang"],
                "page_no": row["page_no"],
                "page_type": row["page_type"],
                "footer": row["footer"].asDict(recursive=True) if row["footer"] else None,
                "extracted_text": row["extracted_text"],
                "spans": [tuple(s) for s in row["spans"]],
                "rows": [
                    (x["row_idx"], dict(x["cols"]), x["loc"], x["loc_repr"]) for x in row["rows"]
                ],
                "errors": [tuple(e) for e in row["errors"]],
            }
            ref = want.get(row["url"])
            if ref is not None and have != ref:
                bad.append((row["url"], [k for k in have if have[k] != ref[k]]))
        if bad:
            problems.append(f"{len(bad)} rows differ from the kernel, first: {bad[:3]}")
        return problems

    def trace_extra(self, spark, out: str, tracer) -> None:
        """``pipeline.run_assembly`` over this iteration's output, the
        first assembly in its JVM. Spans wrap ``operators.assembly.
        assemble`` and each ``write_table`` call, and the requests table
        that ``Assembler.finish`` receives is kept for its row count."""
        from indu_doc_transformer_spark import pipeline
        from indu_doc_transformer_spark.operators import assembly

        seen = self._assembly = {}
        sc = spark.sparkContext._jsc.sc()
        assemble, finish, write_table = (
            assembly.assemble,
            assembly.Assembler.finish,
            pipeline.write_table,
        )

        def traced_assemble(*args, **kwargs):
            with tracer.span("assembly.assemble"):
                tables = assemble(*args, **kwargs)
            # the request build's localCheckpoints, still cached
            seen["checkpoint_bytes"] = sum(
                i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo()
            )
            return tables

        def kept_finish(self_, reqs, *args, **kwargs):
            seen["requests"] = reqs
            return finish(self_, reqs, *args, **kwargs)

        def traced_write(df, path, *args, **kwargs):
            with tracer.span(f"catalog.write_table.{os.path.basename(path)}"):
                write_table(df, path, *args, **kwargs)

        assembly.assemble = traced_assemble
        assembly.Assembler.finish = kept_finish
        pipeline.write_table = traced_write
        try:
            with tracer.span("pipeline.run_assembly"):
                pipeline.run_assembly(spark, out)
        finally:
            assembly.assemble = assemble
            assembly.Assembler.finish = finish
            pipeline.write_table = write_table
        seen["requests_rows"] = seen.pop("requests").count()
        if seen["requests_rows"] == 0:
            raise RuntimeError("assembly built no requests")

    # -- traced run ----------------------------------------------------

    def layers(self, spans: list[dict], log) -> dict:
        ex = _one(spans, "pipeline.run_extraction")
        tot = log.totals({s["group"] for s in harness.subtree(spans, ex)})
        return {
            "pipeline.run_extraction_s": _dur(ex),
            "extraction.python_worker_s": tot["py_ms"] / 1000,
            "extraction.arrow_in_bytes": tot["py_sent"],
            "extraction.arrow_out_bytes": tot["py_back"],
            # the share of the intrinsic multiprocessing ceiling reached
            "extraction.ceiling_share": self.kernel_us()
            * self.docs
            / (harness.cores() * _dur(ex) * 1e6),
            "checkpoint.chunk_s": statistics.median(
                _dur(s) for s in spans if s["name"] == "checkpoint.chunk"
            ),
            # input rows read per corpus row: every chunk rescans the input
            "checkpoint.scan_rows_ratio": tot["records_read"] / self.docs,
            **self._assembly_layers(spans, log),
        }

    def _assembly_layers(self, spans: list[dict], log) -> dict:
        asm = _one(spans, "assembly.assemble")
        first_job = log.first_job_s({asm["group"]})
        m = {
            "assembly.assemble_s": _dur(asm),
            # driver-side plan building (py4j) before its first job
            "assembly.plan_build_s": (first_job or asm["end"]) - asm["start"],
            "assembly.requests_rows": self._assembly["requests_rows"],
            "assembly.checkpoint_bytes": self._assembly["checkpoint_bytes"],
        }
        for t in self.ASSEMBLY_TABLES:
            m[f"catalog.write_table_s.{t}"] = _dur(_one(spans, f"catalog.write_table.{t}"))
        return m

    def run_layers(self) -> dict:
        return {"kernels.extract_document_us": self.kernel_us()}

    def kernel_us(self) -> float:
        """Single-process µs/doc of ``extract_document`` on a seeded
        sample (median of three passes), measured once per run."""
        from indu_doc_transformer_spark.kernels.layout import extract_document

        if self._kernel_us is None:
            ids = random.Random(f"kernel:{self.seed}").sample(
                range(self.docs), self.kernel_bench_docs
            )
            htmls = [self._doc(i)["html"] for i in ids]
            passes = []
            for _ in range(3):
                t0 = time.perf_counter()
                for h in htmls:
                    extract_document(h)
                passes.append((time.perf_counter() - t0) / len(htmls) * 1e6)
            self._kernel_us = statistics.median(passes)
        return self._kernel_us


# ------------------------------------------------------------------
# curate_dedup: curation and dedup operators through queries()
# ------------------------------------------------------------------


class CurateDedup:
    """Four curation/dedup entries of ``__spark_entry__.queries()`` over
    a staged documents dir in which every sf-shaped doc appears a seeded
    number of times under distinct ids, drawn from the copy counts
    measured in the sf0.1 documents table (``inputs.GROUP_SIZES``). The
    lookup runs inside the timed region, so the entries' own input read
    (``_t``) is timed too. ``q_decontaminate`` is left out: its operator
    runs inside ``q_curation_funnel``, and the run budget has no room
    for it."""

    name = "curate_dedup"
    docs = 5000

    # query -> span name, i.e. the layer the query exercises
    QUERIES = {
        "q_curation_funnel": "curation.curate",
        "q_line_dedup": "dedup.line_dedup",
        "q_dup_span_removal": "dedup.duplicate_span_removal",
        "q_minhash_lsh_pairs": "dedup.minhash_lsh_pairs",
    }

    LAYERS = tuple(f"{layer}_s" for layer in QUERIES.values()) + (
        "entry.input_partitions",
        "curation.keep_ratio",
        "dedup.pairs_out",
    )

    def __init__(self):
        self.dir = None
        self.seed = None
        self.distinct = None
        self.texts = None
        self.counts: dict = {}

    def describe(self) -> dict:
        return {
            "distinct": self.distinct,
            "docs": self.docs,
            "copy_pairs": self.expected()["copy_pairs"],
            "seed": self.seed,
        }

    def stage(self, seed: int, dest: str) -> None:
        from inputs import documents, stage_documents

        cols, copies = documents(seed, self.docs)
        stage_documents(dest, cols)
        self.seed = seed
        self.dir = dest
        self.distinct = len(copies)
        self.texts = cols["text"]

    def _run(self, spark, sf_dir: str, out: str, tracer) -> None:
        import __spark_entry__ as entry

        from indu_doc_transformer_spark.sources.catalog import write_table

        for q, layer in self.QUERIES.items():
            with tracer.span(layer):
                write_table(entry.queries()[q](spark, sf_dir), os.path.join(out, q))

    def iterate(self, spark, out: str, tracer) -> dict:
        self._run(spark, self.dir, out, tracer)
        return {}

    def expected(self) -> dict:
        """Counts that follow from the generator alone."""
        train = [t for i, t in enumerate(self.texts) if i % 10 != 0]
        groups: dict[str, int] = {}
        for t in self.texts:
            groups[t] = groups.get(t, 0) + 1
        return {
            "train_docs": len(train),
            "train_distinct": len(set(train)),
            "copy_pairs": sum(k * (k - 1) // 2 for k in groups.values()),
        }

    def verify(self, spark, out: str, result: dict) -> list[str]:
        from pyspark.sql import functions as F

        problems = []
        want = self.expected()
        read = {q: spark.read.parquet(os.path.join(out, q)) for q in self.QUERIES}
        cur = read["q_curation_funnel"].agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dedup_keep").alias("dedup_kept"),
            F.sum("keep").alias("kept"),
        ).first()
        self.counts["curation.keep_ratio"] = cur["kept"] / cur["n"]
        if cur["n"] != want["train_docs"]:
            problems.append(f"curation rows {cur['n']} != train docs {want['train_docs']}")
        if cur["dedup_kept"] != want["train_distinct"]:
            problems.append(
                f"exact dedup kept {cur['dedup_kept']} != distinct train texts "
                f"{want['train_distinct']}"
            )
        docs = spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
        b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
        copies = (
            read["q_minhash_lsh_pairs"].join(a, "id_a").join(b, "id_b")
            .where(F.col("ta") == F.col("tb")).select("id_a", "id_b").distinct().count()
        )
        if copies != want["copy_pairs"]:
            problems.append(f"minhash found {copies} of {want['copy_pairs']} copy pairs")
        rows = {
            q: read[q].agg(F.count(F.lit(1)).alias("n")).first()["n"]
            for q in ("q_line_dedup", "q_dup_span_removal", "q_minhash_lsh_pairs")
        }
        self.counts["dedup.pairs_out"] = rows["q_minhash_lsh_pairs"]
        self.counts["entry.input_partitions"] = self._input_partitions(spark)
        for q in ("q_line_dedup", "q_dup_span_removal"):
            # a doc whose every line or span repeats an earlier one is dropped
            if not 0 < rows[q] <= self.docs:
                problems.append(f"{q} wrote {rows[q]} rows for {self.docs} docs")
        return problems

    def _input_partitions(self, spark) -> int:
        """The partitions the entries read their documents input as."""
        import __spark_entry__ as entry

        read = getattr(entry, "_t", None)
        if read is None:
            docs = spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        else:
            docs = read(spark, self.dir, "documents")
        return docs.rdd.getNumPartitions()

    def trace_extra(self, spark, out: str, tracer) -> None:
        pass

    def layers(self, spans: list[dict], log) -> dict:
        return {f"{layer}_s": _dur(_one(spans, layer)) for layer in self.QUERIES.values()}

    def run_layers(self) -> dict:
        return dict(self.counts)
