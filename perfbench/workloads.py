"""The workloads. Each one makes its inputs from the seed, loads them,
and runs passes: one pass is the workload's fixed unit of work,
and every call a pass makes into the engine goes through a
:class:`harness.Meter` so a traced pass records one span per layer call.

Span names are the layer calls the per-layer metrics are built from:
``plans.build`` (a registry builder or pipeline stage), ``plans.optimize``
(``executedPlan()``), ``operators.exec`` (the ``noop`` write),
``api.build`` / ``api.collect`` (a serving request), ``io.read`` /
``io.write`` (``io.read_csv`` / ``io.write_table``) and ``sinks.write``
(the ``qa_vector`` save).
"""

from __future__ import annotations

import os
import random
import re
import shutil

from pyspark.sql import functions as F

import checks
import datagen
from harness import stopwatch

OLAP_QUERIES = (
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "q6_forecast_revenue", "q10_returned_items", "q13_customer_distribution",
    "topk_orders_per_customer", "order_line_ids",
)


def exchanges(plan_text: str) -> int:
    """Exchange nodes in a physical plan's tree string."""
    names = (line.lstrip(" :+-|*").split(" ", 1)[0] for line in plan_text.splitlines())
    return sum(n in ("Exchange", "BroadcastExchange", "ReusedExchange") for n in names)


class Ctx:
    """What a pass needs: the session, the meter, and the failure log."""

    def __init__(self, spark, meter) -> None:
        self.spark = spark
        self.meter = meter
        self.attempted = 0
        self.failures: list[str] = []

    def op(self, fn, *args):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 - the benchmark must keep going
            self.failures.append(f"{fn.__name__}: {type(e).__name__}: {e}")
            return None

    def check(self, label: str, fn) -> None:
        """Run one output check; its mismatches, or the exception it
        raised, count as failures."""
        try:
            self.failures += fn()
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails
            self.failures.append(f"{label}: check raised {type(e).__name__}: {e}")


# --------------------------------------------------------------- query mixes


class QueryMix:
    """Registry queries on seeded tables, in a seeded order per pass.
    Each query is three timed calls: build, optimize (traced passes
    only) and the ``noop`` write."""

    def __init__(self, queries: tuple[str, ...], sf: float) -> None:
        self.queries = queries
        self.sf = sf

    def make_inputs(self, work: str, seed: int) -> None:
        self.sf_dir = os.path.join(work, "tables")
        datagen.write_tables(self.sf_dir, seed, self.sf)
        self.order = random.Random(seed)

    def load(self, spark) -> None:
        """Read and count the tables the queries' oracles name."""
        from qa_data_pipeline_rag_llm_spark.catalog import load_table
        from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY

        sql = " ".join(REGISTRY[name].oracle for name in self.queries)
        for table in checks.TABLES:
            if re.search(rf"\b{table}\b", sql):
                load_table(spark, self.sf_dir, table).count()

    def run_pass(self, ctx: Ctx, warmup: bool) -> float:
        from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY

        specs = [REGISTRY[name] for name in self.queries]
        self.order.shuffle(specs)
        if warmup:
            oracles = {spec.name: spec.oracle for spec in specs}
            with checks.oracle_futures(self.sf_dir, oracles) as expected:
                for spec in specs:
                    df = ctx.op(self._query, ctx, spec)
                    if df is not None:
                        ctx.check(spec.name, lambda: checks.compare_result(
                            spec.name, df.toPandas(), expected[spec.name].result()
                        ))
            return 0.0
        total = 0.0
        for spec in specs:
            with stopwatch() as t:
                ctx.op(self._query, ctx, spec)
            total += t()
        return total

    def _query(self, ctx: Ctx, spec):
        m = ctx.meter
        with m.scope("query", request=spec.name):
            with m.call("plans.build"):
                df = spec.spark(ctx.spark, self.sf_dir)
            if m.enabled:
                with m.call("plans.optimize") as c:
                    c["exchanges"] = exchanges(df._jdf.queryExecution().executedPlan().toString())
            with m.call("operators.exec"):
                df.write.format("noop").mode("overwrite").save()
        return df


# --------------------------------------------------------------- serving


class Serving:
    """A closed loop, one client and no think time, shaped like the
    reference's per-message chat flow (one vector search, then one
    grounded generation): each pass is one ``api.retrieve`` and one
    ``api.ask``, both top-1 with a 0.5 similarity threshold.

    The probe of a retrieve is a seeded ``embeddings`` row. The question
    of an ask is the text of a seeded document: the deterministic fake
    embedder is a hash, so only a document's own text clears the
    threshold, and every ask takes the full path (search, join, prompt,
    generation). Every fourth request of a kind repeats an earlier one.
    """

    K = 1
    THRESHOLD = 0.5
    TAIL_SAMPLES = 11  # latencies per kind a traced run collects, at least

    def __init__(self, sf: float) -> None:
        self.sf = sf

    def make_inputs(self, work: str, seed: int) -> None:
        self.sf_dir = os.path.join(work, "tables")
        tables = datagen.registry_tables(seed, self.sf)
        datagen.write_tables(self.sf_dir, seed, self.sf, tables)
        emb = tables["embeddings"].to_pydict()
        docs = tables["documents"].to_pydict()
        self.vectors = dict(zip(emb["vec_id"], emb["embedding"]))
        self.texts = dict(zip(docs["doc_id"], docs["text"]))
        self.rng = random.Random(seed)
        self.seen: dict[str, list] = {"retrieve": [], "ask": []}
        self.latency: dict[str, list[float]] = {"retrieve": [], "ask": []}
        self.n = 0

    def load(self, spark) -> None:
        from qa_data_pipeline_rag_llm_spark.catalog import load_table

        self.emb = load_table(spark, self.sf_dir, "embeddings")
        self.docs = load_table(spark, self.sf_dir, "documents")
        self.emb.count()
        self.docs.count()

    def _next_request(self) -> tuple[str, int]:
        """``(kind, id)``: a ``vec_id`` to probe with, or the ``doc_id``
        whose text is the question."""
        kind = ("retrieve", "ask")[self.n % 2]
        seen = self.seen[kind]
        if len(seen) % 4 == 3:
            item = self.rng.choice(seen)
        else:
            item = self.rng.choice(sorted(self.vectors if kind == "retrieve" else self.texts))
        seen.append(item)
        self.n += 1
        return kind, item

    def run_pass(self, ctx: Ctx, warmup: bool) -> float:
        total = 0.0
        for _ in range(2):
            kind, item = self._next_request()
            with stopwatch() as t:
                rows = ctx.op(self._request, ctx, kind, item)
            total += t()
            if not warmup:
                self.latency[kind].append(t())
            elif rows is not None:
                ctx.check(kind, lambda: self._check(kind, item, rows))
        return total

    def top_up(self, ctx: Ctx) -> None:
        """More passes, after the timed ones, until each kind has
        ``TAIL_SAMPLES`` latencies."""
        while min(map(len, self.latency.values())) < self.TAIL_SAMPLES:
            self.run_pass(ctx, warmup=False)

    def _request(self, ctx: Ctx, kind: str, item: int):
        from qa_data_pipeline_rag_llm_spark import api

        m = ctx.meter
        with m.scope("request", request=f"{kind}:{self.n}"):
            with m.call("api.build"):
                if kind == "retrieve":
                    df = api.retrieve(
                        self.emb, self.vectors[item], k=self.K, threshold=self.THRESHOLD
                    )
                else:
                    df = api.ask(
                        ctx.spark, self.texts[item], self.docs, k=self.K, threshold=self.THRESHOLD
                    )
            with m.call("api.collect"):
                return df.collect()

    def _check(self, kind: str, item: int, rows) -> list[str]:
        if kind == "retrieve":
            ranking = checks.cosine_ranking(self.vectors, self.vectors[item])
            got = [r["vec_id"] for r in sorted(rows, key=lambda r: r["rank"])]
            return checks.check_retrieve(got, ranking, self.K, self.THRESHOLD)
        from qa_data_pipeline_rag_llm_spark.functions.embed import EMBED_DIMS, _embed_one

        doc_vecs = {d: _embed_one(t, EMBED_DIMS) for d, t in self.texts.items()}
        ranking = checks.cosine_ranking(doc_vecs, _embed_one(self.texts[item], EMBED_DIMS))
        want = checks.expected_answer(ranking, self.texts, self.K, self.THRESHOLD)
        got = (rows[0]["n_docs"], rows[0]["answer"]) if rows else None
        return [] if got == want else [f"ask doc {item}: got {got}, expected {want}"]


# --------------------------------------------------------------- ETL


class Etl:
    """The paper's batch pipeline over seeded Reddit/StackExchange CSV:
    read → normalize → top-k comments → join → union → curate → chunk →
    embed → Parquet write and ``qa_vector`` publish, then read back.

    Comments kept per post: the top 20 by score, as the reference's
    comment cleaning keeps."""

    TOP_K = 20

    def __init__(self, n_posts: int) -> None:
        self.n_posts = n_posts

    def make_inputs(self, work: str, seed: int) -> None:
        self.work = work
        self.src = os.path.join(work, "threads")
        self.counts = datagen.write_threads(self.src, seed, self.n_posts)

    def _sources(self) -> dict:
        from qa_data_pipeline_rag_llm_spark import schemas

        return {
            "reddit_posts": schemas.REDDIT_POSTS,
            "reddit_comments": schemas.REDDIT_COMMENTS,
            "stack_questions": schemas.STACK_QUESTIONS,
            "stack_answers": schemas.STACK_ANSWERS,
        }

    def load(self, spark) -> None:
        from qa_data_pipeline_rag_llm_spark import io
        from qa_data_pipeline_rag_llm_spark.sinks import make_vector_sink_datasource

        spark.dataSource.register(make_vector_sink_datasource())
        for name, schema in self._sources().items():
            io.read_csv(spark, os.path.join(self.src, f"{name}.csv"), schema).count()

    def run_pass(self, ctx: Ctx, warmup: bool) -> float:
        out = os.path.join(self.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        with stopwatch() as t:
            written = ctx.op(self._pipeline, ctx, out)
        wall = t()
        if written is not None:
            self.written = {
                layer: checks.tree_bytes(os.path.join(out, layer)) for layer in ("io", "sinks")
            }
            if warmup:
                ctx.check("qa_etl", lambda: self._check(written, out))
        return wall

    def _pipeline(self, ctx: Ctx, out: str):
        from qa_data_pipeline_rag_llm_spark import api, io
        from qa_data_pipeline_rag_llm_spark.operators.chunking import chunk_text

        m, spark = ctx.meter, ctx.spark
        src = {}
        with m.scope("pipeline", request="qa_etl"):
            for name, schema in self._sources().items():
                with m.call("io.read"):
                    src[name] = io.read_csv(spark, os.path.join(self.src, f"{name}.csv"), schema)
            order = [F.desc("score"), F.col("id_comment")]
            with m.call("plans.build"):
                r_posts = api.normalize_reddit_posts(src["reddit_posts"])
                s_posts = api.normalize_stack_questions(src["stack_questions"])
                r_comms = api.normalize_reddit_comments(src["reddit_comments"])
                s_comms = api.normalize_stack_answers(src["stack_answers"])
            with m.call("plans.build"):
                r_top = api.top_k_per_group(r_comms, ["parent_post_id"], order, self.TOP_K)
                s_top = api.top_k_per_group(s_comms, ["parent_post_id"], order, self.TOP_K)
            with m.call("plans.build"):
                join = ("id_post", "parent_post_id", "id_comment")
                infos = api.union_corpus(
                    api.enrich_with_child_ids(r_posts, r_top, *join),
                    api.enrich_with_child_ids(s_posts, s_top, *join),
                ).withColumn("text", F.concat_ws(" ", "title", "body"))
            with m.call("plans.build"):
                verdicts = api.curate(infos, text_col="text", id_col="id_post")
            with m.call("plans.build"):
                curated = infos.join(verdicts.withColumnRenamed("doc_id", "id_post"), "id_post")
                chunks = chunk_text(
                    curated, chunk_size=datagen.CHUNK_SIZE, stride=datagen.CHUNK_STRIDE
                )
                embedded = api.embed_corpus(chunks, text_col="chunk_text")
            with m.call("io.write"):
                io.write_table(embedded, os.path.join(out, "io"))
            with m.call("io.read"):
                written = spark.read.parquet(os.path.join(out, "io"))
                self.parquet_rows = written.count()
            with m.call("sinks.write"):
                written.select("id_post", "chunk_id", "chunk_text", "embedding").write.format(
                    "qa_vector"
                ).option("path", os.path.join(out, "sinks")).mode("overwrite").save()
        return written

    def _check(self, written, out: str) -> list[str]:
        from qa_data_pipeline_rag_llm_spark.sinks import read_vector_manifest

        manifest_rows = read_vector_manifest(os.path.join(out, "sinks"))["n_total"]
        flagged = {
            r["id_post"]
            for r in written.where(~F.col("dedup_kept")).select("id_post").distinct().collect()
        }
        return checks.check_etl(self.counts, self.parquet_rows, manifest_rows, flagged)


class Sequence:
    """Several workloads run one after another as one pass."""

    def __init__(self, *parts) -> None:
        self.parts = parts

    def make_inputs(self, work: str, seed: int) -> None:
        for i, part in enumerate(self.parts):
            part.make_inputs(os.path.join(work, f"part{i}"), seed)

    def load(self, spark) -> None:
        for part in self.parts:
            part.load(spark)

    def run_pass(self, ctx: Ctx, warmup: bool) -> float:
        return sum(part.run_pass(ctx, warmup) for part in self.parts)

    def top_up(self, ctx: Ctx) -> None:
        for part in self.parts:
            if hasattr(part, "top_up"):
                part.top_up(ctx)

    def __getattr__(self, name: str):
        """Per-layer state (``written``, ``counts``, ``latency``) of the
        part that has it."""
        for part in self.__dict__.get("parts", ()):
            if name in part.__dict__:
                return part.__dict__[name]
        raise AttributeError(name)


WORKLOADS = {
    "olap": lambda: QueryMix(OLAP_QUERIES, sf=0.01),
    # corpus curation end to end: the iterative registry builders, the
    # CSV -> curated, embedded, published corpus pipeline, then a short
    # retrieve/ask tail against the seeded index
    "curation": lambda: Sequence(Etl(n_posts=200), Serving(sf=0.001)),
}
