"""The benchmark's workloads: seeded inputs, DuckDB oracles, and one
pass of calls into the engine.

Each workload has three parts, run in different processes:

- ``generate(seed, data_dir)`` writes the inputs (no Spark);
- ``oracle(data_dir)`` computes the expected digest of every checked
  output with DuckDB, through the engine's SQL twins (no Spark);
- ``run_pass(spark, data_dir, spans, check, scratch)`` makes the calls
  into the engine, each inside a span, and hands every output to
  ``check``. It returns {call: rows out}.
"""

from __future__ import annotations

import os

import inputs


def _views(con, data_dir: str, tables: dict[str, str]) -> None:
    for name, glob in tables.items():
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, glob)}')"
        )


def _collect(df):
    cols = sorted(df.columns)
    return cols, df.select(cols).collect()


class VectorSearch:
    """Five registry queries whose time goes to the Python/Arrow
    kernels (dot_vec, block_dot) and to candidate generation."""

    name = "vector_search"
    QUERIES = (
        "x_ann_cosine_topk",
        "x_semdedup_survivors",
        "x_ann_ivf_int8_topk",
        "x_ann_hamming_rerank",
        "x_dedup_simhash",
    )
    N_DOCS = 500
    N_VECS = 500
    n_ops = len(QUERIES)

    def generate(self, seed: int, data_dir: str) -> int:
        inputs.write_parquet(
            inputs.documents(seed, self.N_DOCS),
            os.path.join(data_dir, "documents.parquet"),
        )
        inputs.write_parquet(
            inputs.embeddings(seed, self.N_VECS),
            os.path.join(data_dir, "embeddings.parquet"),
        )
        return self.N_DOCS + self.N_VECS

    def oracle(self, data_dir: str) -> dict:
        import duckdb

        import __spark_entry__
        from digest import duckdb_digest

        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        _views(con, data_dir, {t: f"{t}.parquet" for t in ("documents", "embeddings")})
        return {q: duckdb_digest(con, sql[q]) for q in self.QUERIES}

    def run_pass(self, spark, data_dir, spans, check, scratch) -> dict:
        import __spark_entry__

        queries = __spark_entry__.queries()
        rows_out = {}
        for q in self.QUERIES:
            with spans.span(f"operators.{q}"):
                cols, rows = _collect(queries[q](spark, data_dir))
            rows_out[q] = len(rows)
            check(q, cols, rows)
        return rows_out


class CurationPipeline:
    """filter -> exact dedup -> MinHash-LSH pairs -> CC closure ->
    survivors -> leakage-safe splits -> packing -> shard stats -> table
    write, composed from the public operators the way
    ``tools/pipeline_stress.py`` composes them."""

    name = "curation_pipeline"
    N_DOCS = 4_000
    N_FILES = 8
    CHECKS = ("survivors", "splits", "packed", "shards", "train_table")
    n_ops = len(CHECKS)

    def generate(self, seed: int, data_dir: str) -> int:
        inputs.write_parquet(
            inputs.curation_corpus(seed, self.N_DOCS),
            os.path.join(data_dir, "documents.parquet"),
            n_files=self.N_FILES,
        )
        return self.N_DOCS

    def oracle(self, data_dir: str) -> dict:
        import duckdb

        from big_data_computing__spark.functions.hashing import hash60_sql
        from big_data_computing__spark.operators.curation import (
            leakage_safe_splits_sql,
            pack_sequences_sql,
            shard_stats_sql,
        )
        from big_data_computing__spark.operators.dedup import (
            duplicate_components_sql,
            minhash_lsh_pairs_sql,
        )
        from big_data_computing__spark.operators.textstats import (
            language_id_sql,
            quality_scores_sql,
        )
        from digest import duckdb_digest

        con = duckdb.connect()
        _views(con, data_dir, {"corpus": "documents.parquet/*.parquet"})
        con.execute("CREATE VIEW documents AS SELECT * FROM corpus")
        norm = "trim(regexp_replace(lower(text), ' +', ' ', 'g'))"
        # clean_corpus_sql's four stages, with its stage boundaries
        # (kept2, pairs) materialized as tables: DuckDB re-evaluates the
        # un-materialized chain inside the recursive closure (21 s at
        # 3,000 docs). The later stages' twins read them as `documents`.
        con.execute(f"""
CREATE TABLE kept2 AS
WITH q AS ({quality_scores_sql()}), l AS ({language_id_sql()}),
kept AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN q USING (doc_id) JOIN l USING (doc_id)
  WHERE q.quality_score >= 0.45 AND l.pred_lang = 'en'
),
fp AS (SELECT doc_id, {hash60_sql(norm)} AS f FROM kept),
ek AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f)
SELECT k.doc_id, k.text FROM kept k JOIN ek USING (doc_id)""")
        con.execute(
            f"CREATE TABLE pairs AS {minhash_lsh_pairs_sql(source='kept2')}"
        )
        comp = duplicate_components_sql("SELECT doc_a, doc_b FROM pairs")
        con.execute(f"""
CREATE TABLE surv AS SELECT doc_id FROM kept2
WHERE doc_id NOT IN (SELECT doc_id FROM ({comp}) WHERE doc_id <> component_id)""")
        out = {"survivors": duckdb_digest(con, "SELECT doc_id FROM surv")}
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT doc_id FROM surv")
        con.execute(
            "CREATE TABLE splits AS "
            + leakage_safe_splits_sql("SELECT doc_a, doc_b FROM pairs")
        )
        out["splits"] = duckdb_digest(con, "SELECT * FROM splits")
        con.execute("""
CREATE OR REPLACE VIEW documents AS
SELECT k.doc_id, k.text FROM splits s JOIN kept2 k USING (doc_id)
WHERE s.split = 'train'""")
        out["packed"] = duckdb_digest(con, pack_sequences_sql())
        out["shards"] = duckdb_digest(con, shard_stats_sql())
        out["train_table"] = duckdb_digest(con, """
SELECT s.doc_id, s.cluster_rep, k.text
FROM splits s JOIN kept2 k USING (doc_id) WHERE s.split = 'train'""")
        return out

    def run_pass(self, spark, data_dir, spans, check, scratch) -> dict:
        from pyspark.sql import functions as F

        from big_data_computing__spark.functions.hashing import hash60
        from big_data_computing__spark.functions.text import normalized
        from big_data_computing__spark.operators.curation import (
            leakage_safe_splits,
            pack_sequences,
            shard_stats,
        )
        from big_data_computing__spark.operators.dedup import (
            dedup_survivors,
            duplicate_components_auto,
            minhash_lsh_pairs_sharded,
        )
        from big_data_computing__spark.operators.textstats import (
            quality_lang_gate,
        )
        from big_data_computing__spark.sources.layout import ZTable
        from big_data_computing__spark.sources.readers import read_table

        rows = {}
        docs = read_table(spark, data_dir, "documents")
        with spans.span("operators.s1_quality_lang_filter"):
            kept = quality_lang_gate(docs).select("doc_id", "text").localCheckpoint()
            rows["s1_quality_lang_filter"] = kept.count()
        with spans.span("operators.s2_exact_dedup"):
            fp = kept.select("doc_id", hash60(normalized(F.col("text"))).alias("f"))
            keep = fp.groupBy("f").agg(F.min("doc_id").alias("doc_id"))
            kept2 = kept.join(keep.select("doc_id"), "doc_id", "left_semi").localCheckpoint()
            rows["s2_exact_dedup"] = kept2.count()
        with spans.span("operators.s3_minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs_sharded(
                kept2, shard_dir=os.path.join(scratch, "bands")
            ).localCheckpoint()
            rows["s3_minhash_lsh_pairs"] = pairs.count()
        with spans.span("operators.s4a_duplicate_components"):
            comp = duplicate_components_auto(pairs).localCheckpoint()
            rows["s4a_duplicate_components"] = comp.count()
        with spans.span("operators.s4b_cc_survivors"):
            survivors = dedup_survivors(
                kept2.select("doc_id"), pairs, components=comp
            ).localCheckpoint()
            cols, out = _collect(survivors)
        rows["s4b_cc_survivors"] = len(out)
        check("survivors", cols, out)
        with spans.span("operators.s5_leakage_safe_splits"):
            splits = leakage_safe_splits(
                survivors.select("doc_id"), pairs, components=comp
            ).localCheckpoint()
            cols, out = _collect(splits)
        rows["s5_leakage_safe_splits"] = len(out)
        check("splits", cols, out)
        train = splits.where(F.col("split") == "train").join(kept2, "doc_id")
        with spans.span("operators.s6_pack_sequences"):
            cols, out = _collect(pack_sequences(train.select("doc_id", "text")))
        rows["s6_pack_sequences"] = len(out)
        check("packed", cols, out)
        with spans.span("operators.s7_shard_stats"):
            cols, out = _collect(shard_stats(train.select("doc_id", "text")))
        rows["s7_shard_stats"] = len(out)
        check("shards", cols, out)
        with spans.span("sources.s8_write_train_table"):
            table = ZTable.create(
                train.select("doc_id", "cluster_rep", "text"),
                os.path.join(scratch, "train_table"),
                x="doc_id",
                y="cluster_rep",
            )
            cols, out = _collect(
                table.read(spark).select("doc_id", "cluster_rep", "text")
            )
        rows["s8_write_train_table"] = len(out)
        check("train_table", cols, out)
        return rows


WORKLOADS = {w.name: w for w in (VectorSearch(), CurationPipeline())}
