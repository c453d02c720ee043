"""The benchmark's workloads over the public package API.

A workload is set up by its constructor (which records its set-up
checks in ``setup_checks``) and then runs a fixed list of operations
per pass (``ops()``). An operation is ``(label, run, check)``: ``run()``
is the measured call and returns its output, ``check(output)`` says
whether that output is correct and is not measured. All Spark work is
done through public functions of ``news_graph_rag_spark``; the
benchmark only adds spans around them. Time the benchmark spends on
its own expected results goes to the ``own`` stopwatch, which set-up
time leaves out.

- ``rag``: the read path. Set-up builds the graph and its indexes with
  the ingest path; each pass is one new user session of seeded
  questions: ``GraphChat.answer`` (NER, entity linking, stand-in LLM,
  guards, SQL), then ``hybrid_top_k_indexed`` and ``expand_chunk_hits``.
  Every turn is checked against ``rag_oracle``, which does not use the
  package.
- ``catalog``: a fixed mix of oracle-backed registry entries.
"""

from __future__ import annotations

import os
import time

import duckdb

import datagen
from questions import (
    fill_sql,
    make_gazetteer,
    make_session,
    parse_question,
    repeat_share,
    split_batches,
    stub_llm,
)
from rag_oracle import GraphOracle, canon_rows, expected_entities, graph_views, link_candidates

# -- sizes ----------------------------------------------------------------
RAG_SF = 0.006  # 300 documents
INGEST_BATCHES = 2
RAG_QUESTIONS = 3  # turns per pass: one user session
HYBRID_K = 5
HYBRID_NPROBE = 4
HYBRID_CAND_MULT = 4  # hybrid_top_k_indexed's default
EMBED_DIM = 64
CATALOG_SF = 0.01
CATALOG_ENTRIES = (
    "decision_stump_orders",
    "near_dup_lsh_banded",
    "hybrid_search_rrf",
    "label_propagation_parts",
    "ann_ivfpq_batch_topk",
    "dedup_minhash_lsh_pairs",
    "window_topk_per_group",
)


# per-source (articles, chunks, distinct entities) of an ingested corpus,
# recomputed from the documents table: every document is one article
# and, being shorter than the chunker's 1100-char limit, one chunk; the
# gazetteer matcher finds whole corpus words, and runs of consecutive
# words with the same label merge into one entity (the L6 rule)
_INGEST_ORACLE = """
WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
           FROM documents WHERE text IS NOT NULL),
w AS (SELECT doc_id, source, unnest(toks) AS w,
             unnest(range(1, len(toks) + 1)) AS i FROM d),
lw AS (SELECT w.*, g.label FROM w JOIN gaz g ON g.term = w.w),
runs AS (SELECT *, i - row_number() OVER (PARTITION BY doc_id, label ORDER BY i) AS grp
         FROM lw),
ents AS (SELECT source, label, string_agg(w, ' ' ORDER BY i) AS name
         FROM runs GROUP BY doc_id, source, label, grp),
base AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY source),
ec AS (SELECT source, CAST(count(DISTINCT label || ':' || name) AS BIGINT) AS n
       FROM ents GROUP BY source)
SELECT b.source, b.n, b.n, COALESCE(ec.n, CAST(0 AS BIGINT))
FROM base b LEFT JOIN ec ON ec.source = b.source
"""

_INGEST_GRAPH = """
SELECT s.name, CAST(count(DISTINCT a.uid) AS BIGINT),
       CAST(count(DISTINCT c.dst_uid) AS BIGINT),
       CAST(count(DISTINCT m.dst_uid) AS BIGINT)
FROM source s JOIN published p ON p.src_uid = s.uid
JOIN article a ON a.uid = p.dst_uid
JOIN contains c ON c.src_uid = a.uid
LEFT JOIN mentions m ON m.src_uid = c.dst_uid
GROUP BY s.name
"""


class GraphBuilder:
    """The ingest path the rag set-up runs: seeded batches of the
    documents table, replayed as raw articles the way the
    ``graph_ingest_roundtrip`` entry maps them, go through
    ``ingest_articles`` + ``GraphStore.localized`` into an empty store;
    then ``save_atomic`` and both index builds."""

    def __init__(self, spark, tracer, data_dir: str, seed: int, out_dir: str):
        import pyarrow.parquet as pq

        self.spark, self.tracer, self.data_dir = spark, tracer, data_dir
        self.gazetteer = make_gazetteer(seed, datagen.VOCAB)
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
        self.n_docs = docs.num_rows
        self.batch_paths = []
        for i, idx in enumerate(split_batches(seed, docs.num_rows, INGEST_BATCHES)):
            path = os.path.join(data_dir, f"ingest_batch_{i}.parquet")
            pq.write_table(docs.take(idx), path)
            self.batch_paths.append(path)
        self.graph_root = os.path.join(out_dir, "graph")
        self.ann_path = os.path.join(out_dir, "ann")
        self.token_path = os.path.join(out_dir, "tokens.parquet")

    def _raw(self, path: str):
        from pyspark.sql import functions as F

        docs = self.spark.read.parquet(path).filter(F.col("text").isNotNull())
        return docs.select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            F.concat(F.lit("Document "), F.col("doc_id").cast("string")).alias("title"),
            F.lit(None).cast("timestamp").alias("publishing_date"),
            F.col("lang").alias("language"),
            F.array().cast("array<string>").alias("summary"),
            F.array(
                F.struct(
                    F.array().cast("array<string>").alias("headline"),
                    F.array(F.col("text")).alias("paragraphs"),
                )
            ).alias("sections"),
            F.array().cast("array<string>").alias("topics"),
            F.array(F.col("source")).alias("authors"),
            F.col("source").alias("source_name"),
            F.lit("feed").alias("source_type"),
            F.concat(F.lit("https://"), F.col("source")).alias("source_url"),
        )

    def build(self) -> None:
        from news_graph_rag_spark.graph_store import GraphStore
        from news_graph_rag_spark.ingest.embedder import HashEmbedder
        from news_graph_rag_spark.ingest.ner import GazetteerModel
        from news_graph_rag_spark.ingest.upserts import ingest_articles
        from news_graph_rag_spark.pipeline.ann_index import build_uid_index
        from news_graph_rag_spark.retrieval.hybrid import build_chunk_token_index

        span = self.tracer.span
        gaz = self.gazetteer
        store = GraphStore.empty(self.spark)
        for path in self.batch_paths:
            with span("ingest.plan"):
                nxt = ingest_articles(
                    store,
                    self._raw(path),
                    ner_model_factory=lambda: GazetteerModel(gaz),
                    encoder_factory=lambda: HashEmbedder(dim=EMBED_DIM),
                )
            with span("ingest.materialize"):
                nxt = nxt.localized()
            store.release_checkpoints()  # the superseded generation
            store = nxt
        with span("ingest.save"):
            store.save_atomic(self.graph_root)
        store.release_checkpoints()  # tables now read the committed files
        with span("index.ann_build"):
            build_uid_index(store["chunk"], self.ann_path)
        with span("index.token_build"):
            build_chunk_token_index(store["chunk"]).write.parquet(self.token_path)

    def oracle(self) -> list[str]:
        """Expected per-source triples, by DuckDB from the documents."""
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{self.data_dir}/documents.parquet')"
            )
            rows = [(t, label) for label, terms in self.gazetteer.items() for t in terms]
            con.execute("CREATE TABLE gaz(term VARCHAR, label VARCHAR)")
            con.executemany("INSERT INTO gaz VALUES (?, ?)", rows)
            return canon_rows(con.execute(_INGEST_ORACLE).fetchall())
        finally:
            con.close()


class _LinkResult:
    """``lookup_entities``' frame with its collect inside a span."""

    def __init__(self, df, tracer):
        self.df, self.tracer = df, tracer

    def collect(self):
        with self.tracer.span("rag.link"):
            return self.df.collect()


def trace_chat_layers(tracer) -> None:
    """Wrap the module-level calls ``GraphChat`` makes into the linking
    and guard layers in spans (traced runs only; package files are
    untouched, the names are rebound in this process)."""
    import news_graph_rag_spark.llm as llm_mod
    import news_graph_rag_spark.pipeline.ann_index as ann_mod

    def wrap(fn, name):
        def traced(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        return traced

    lookup = llm_mod.lookup_entities

    def traced_lookup(*a, **k):
        with tracer.span("rag.link"):
            return _LinkResult(lookup(*a, **k), tracer)

    llm_mod.lookup_entities = traced_lookup
    llm_mod.assert_read_only = wrap(llm_mod.assert_read_only, "rag.guard")
    llm_mod.assert_allowed_tables = wrap(llm_mod.assert_allowed_tables, "rag.guard")
    ann_mod.search_uids_by_vector = wrap(ann_mod.search_uids_by_vector, "rag.ann_probe")


class RagWorkload:
    name = "rag"
    sf = RAG_SF
    tables = ("documents",)
    warmup_passes = 1  # session 0; the measured passes are sessions 1, 2, ...
    min_passes = 1

    def __init__(self, spark, tracer, own, data_dir, seed, out_dir):
        import news_graph_rag_spark.pipeline.ann_index as ann_mod
        from news_graph_rag_spark.graph_store import GraphStore
        from news_graph_rag_spark.ingest.embedder import HashEmbedder
        from news_graph_rag_spark.ingest.ner import EntityFinder, GazetteerModel

        self.spark, self.tracer, self.own, self.seed = spark, tracer, own, seed
        self.probe = ann_mod.search_uids_by_vector  # untraced, for the checks
        if tracer.enabled:
            trace_chat_layers(tracer)
        with own():  # writes the ingest batches
            self.builder = GraphBuilder(spark, tracer, data_dir, seed, out_dir)
        t = time.perf_counter()
        self.builder.build()
        self.build_s = time.perf_counter() - t
        self.store = GraphStore.load(spark, self.builder.graph_root)
        self.tokens = spark.read.parquet(self.builder.token_path)
        self.finder = EntityFinder(GazetteerModel(self.builder.gazetteer))
        self.embed = HashEmbedder(dim=EMBED_DIM)
        self.session = 0
        self.turn_entities: dict[int, list[list[str]]] = {}
        self.link_found = self.link_hit = 0
        # set-up check: the built graph against the documents; the
        # DuckDB views and the chunk and entity tables stay open for the
        # per-turn checks
        with own():
            self.con = duckdb.connect()
            graph_views(self.con, self.builder.graph_root)
            self.graph = GraphOracle(self.con)
            triples = canon_rows(self.con.execute(_INGEST_GRAPH).fetchall())
            self.setup_checks = [triples == self.builder.oracle()]

    def _chat(self):
        from news_graph_rag_spark.llm import GraphChat

        tracer = self.tracer
        finder = self.finder

        class TracedFinder:
            def find(self, text):
                with tracer.span("rag.ner"):
                    return finder.find(text)

        def complete(prompt):
            with tracer.span("rag.llm"):
                return stub_llm(prompt)

        class TracedChat(GraphChat):
            def generate_sql(self, question):
                with tracer.span("rag.generate_sql"):
                    return super().generate_sql(question)

            def execute(self, sql):
                with tracer.span("rag.sql_exec"):
                    return super().execute(sql)

        return TracedChat(self.store, complete, TracedFinder())

    def _turn(self, question, chat) -> dict:
        from news_graph_rag_spark.localrel import local_rel
        from news_graph_rag_spark.retrieval.hybrid import (
            expand_chunk_hits,
            hybrid_top_k_indexed,
        )

        span = self.tracer.span
        with span("rag.answer"):
            chat.answer(question)
        with span("rag.hybrid"):
            qvec = self.embed([question])[0]
            hits = hybrid_top_k_indexed(
                self.store["chunk"],
                self.tokens,
                self.builder.ann_path,
                qvec,
                question,
                k=HYBRID_K,
                nprobe=HYBRID_NPROBE,
                cand_mult=HYBRID_CAND_MULT,
            ).select("uid", "text", "score", "position", "section", "category")
            rows = hits.collect()
        with span("rag.expand"):
            hit_df = local_rel(self.spark, [tuple(r) for r in rows], hits.schema)
            expanded = expand_chunk_hits(self.store, hit_df).collect()
        return {
            "question": question,
            "vector": qvec,
            **chat.last,
            "hits": [tuple(r) for r in rows],
            "expanded": [(r["text"], r["score"], *r["metadata"]) for r in expanded],
        }

    def _check(self, out: dict, session: int) -> bool:
        """Every layer's output of one turn against ``rag_oracle``."""
        question, entities, cands = out["question"], out["entities"], out["candidates"]
        self.turn_entities[session].append(entities)
        self.link_found += len(entities)
        self.link_hit += len({c["probe"] for c in cands})

        want_entities = expected_entities(parse_question(question)[1], self.builder.gazetteer)
        want_cands = link_candidates(self.graph.entities, want_entities)
        vector_cands = [
            r["uid"]
            for r in self.probe(
                self.spark,
                self.builder.ann_path,
                out["vector"],
                k=HYBRID_K * HYBRID_CAND_MULT,
                nprobe=HYBRID_NPROBE,
            ).collect()
        ]
        scores = self.graph.fused_scores(question, out["vector"], vector_cands)
        return (
            entities == want_entities
            and _canon_cands(cands) == _canon_cands(want_cands)
            and out["sql"] == fill_sql(question, want_cands)
            and _guards_pass(out["sql"], self.store)
            and canon_rows(self.con.execute(out["sql"]).fetchall()) == canon_rows(out["records"])
            and self.graph.hits_ok(out["hits"], scores, HYBRID_K)
            and self.graph.expand(out["hits"]) == canon_rows(out["expanded"])
        )

    def ops(self):
        session, self.session = self.session, self.session + 1
        self.turn_entities[session] = []
        chat = self._chat()  # one user session per pass
        questions = make_session(self.seed, self.builder.gazetteer, session, RAG_QUESTIONS)
        return [
            (
                "turn",
                lambda q=q: self._turn(q, chat),
                lambda out: self._check(out, session),
            )
            for q in questions
        ]

    def link_hit_ratio(self) -> float:
        return self.link_hit / self.link_found if self.link_found else 0.0

    def repeat_share(self) -> float:
        """Mean share of turns repeating an entity of an earlier turn,
        over the measured sessions."""
        shares = [repeat_share(v) for s, v in self.turn_entities.items() if s >= self.warmup_passes]
        return sum(shares) / len(shares) if shares else 0.0


def _canon_cands(cands: list[dict]) -> list[tuple]:
    return sorted(
        (c["probe"], c["rnk"], c["uid"], c["name"], c["label"], c["score"]) for c in cands
    )


def _guards_pass(sql: str, store) -> bool:
    from news_graph_rag_spark.llm import assert_allowed_tables, assert_read_only

    try:
        assert_read_only(sql)
        assert_allowed_tables(sql, set(store.tables))
    except ValueError:
        return False
    return True


class CatalogWorkload:
    name = "catalog"
    sf = CATALOG_SF
    tables = ("orders", "lineitem", "documents", "embeddings")
    warmup_passes = 1
    min_passes = 2

    def __init__(self, spark, tracer, own, data_dir, seed, out_dir):
        from driver_mimic import _canon

        from news_graph_rag_spark.queries import registry

        self.spark, self.tracer, self.data_dir = spark, tracer, data_dir
        self.canon = _canon
        reg = registry()
        self.entries = [reg[n] for n in CATALOG_ENTRIES]
        with own():
            con = duckdb.connect()
            try:
                for t in self.tables:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
                    )
                self.expected = {
                    q.name: _canon(con.execute(q.oracle).fetchdf()) for q in self.entries
                }
            finally:
                con.close()
        self.setup_checks = []

    def _run(self, q):
        with self.tracer.span(f"catalog.{q.name}"):
            return q.fn(self.spark, self.data_dir).toPandas()

    def ops(self):
        return [
            (
                q.name,
                lambda q=q: self._run(q),
                lambda got, q=q: self.canon(got).equals(self.expected[q.name]),
            )
            for q in self.entries
        ]


WORKLOADS = {w.name: w for w in (RagWorkload, CatalogWorkload)}
