"""``corpus_curation``: the LLM-data operators over a generated corpus.

One pass: exact dedup and tf-idf through the query catalog (``plans``) →
MinHash-LSH and SimHash near-duplicate pairs → brute-force cosine top-k
and its ``ann_lsh_topk`` approximation → Arrow batch feature extraction →
write the curated corpus (exact and near duplicates removed, quality and
language scored).

Checks: the two catalog results hash-match their ``oracle_sql()`` DuckDB
twins, and the MinHash and SimHash pairs hash-match the catalog's DuckDB
replays of those operators (``minhash_lsh_neardups``/``simhash_neardups``,
same parameters) run over the plain documents, all canonicalised as
``scripts/check_oracle.py`` does; brute-force top-k matches NumPy's exact
cosine ranking; ANN results carry exact cosines and their recall is
measured against brute force; features match the decoder's byte
arithmetic recomputed in NumPy; the curated ids match a DuckDB dedup over
the same documents minus the oracle's near-duplicate losers.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

from perfbench.harness import Run

CATALOG = ("exact_dedup_documents", "tf_idf")
# result key -> catalog twin whose DuckDB replay checks it; the twins run
# the operators on the catalog's augmented corpus, the benchmark on the
# plain documents table
NEAR_DUPS = {"minhash": "minhash_lsh_neardups", "simhash": "simhash_neardups"}
N_QUERIES = 16  # query vectors: vec_id < N_QUERIES
K = 10
CURATED = "curated"


def input_rows(cfg: dict) -> int:
    return cfg["documents"] + cfg["embeddings"]


def run_pass(run: Run, inp: Path, out: Path, cfg: dict) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from data_integration_case_study_spark.functions import text as T
    from data_integration_case_study_spark.multimodal import binary as mm
    from data_integration_case_study_spark.operators import dedup, similarity
    from data_integration_case_study_spark.sources import readers, sinks

    spark, d = run.spark, str(inp)
    res: dict = {}
    docs = run.call(
        "sources.readers", "read_documents",
        lambda: run.force(readers.spread_to_parallelism(
            readers.read_parquet_table(spark, d, "documents"))),
        rows_in=cfg["documents"])
    emb = run.call(
        "sources.readers", "read_embeddings",
        lambda: run.force(readers.read_parquet_table(spark, d, "embeddings")),
        rows_in=cfg["embeddings"])

    def catalog(name):
        df = run.call("plans", f"{name}.build", lambda: entry.queries()[name](spark, d))
        return run.call("plans", f"{name}.exec", df.toArrow)

    for name in CATALOG:
        res[name] = run.op("plans", name, lambda: catalog(name), rows_in=cfg["documents"])

    res["minhash"] = run.op(
        "operators.dedup", "minhash_candidate_pairs",
        lambda: dedup.minhash_candidate_pairs(
            docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5).toArrow(),
        rows_in=cfg["documents"])
    res["simhash"] = run.op(
        "operators.dedup", "simhash_near_pairs",
        lambda: dedup.simhash_near_pairs(docs, "doc_id", "text", 3).toArrow(),
        rows_in=cfg["documents"])

    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    for name, fn in (
        ("cosine_topk_bruteforce",
         lambda: similarity.cosine_topk_bruteforce(emb, queries, k=K)),
        ("ann_lsh_topk", lambda: similarity.ann_lsh_topk(emb, queries, k=K, n_planes=4)),
    ):
        res[name] = run.op("operators.similarity", name, lambda: fn().toArrow(),
                           rows_in=cfg["embeddings"])

    res["features"] = run.op(
        "multimodal", "extract_features",
        lambda: mm.extract_features(mm.attach_payload(docs)).toArrow(),
        rows_in=cfg["documents"])

    losers = sorted(set(res["minhash"].column("id_b").to_pylist()))

    def write_curated():
        kept = run.call("operators.dedup", "exact_dedup",
                        lambda: run.force(dedup.exact_dedup(docs, "text", "doc_id")),
                        rows_in=cfg["documents"])
        scored = run.call(
            "functions", "quality_score",
            lambda: run.force(kept.filter(~F.col("doc_id").isin(losers)).select(
                "doc_id", "text", "lang",
                T.quality_score("text").alias("quality"),
                T.lang_id("text").alias("detected_lang"))))
        sinks.write_parquet(scored, str(out / CURATED))

    run.op("sources.sinks", "write_curated", write_curated)
    return res


def output_dirs(out: Path) -> list[Path]:
    return [out / CURATED]


# --- oracle ------------------------------------------------------------------


def _cosines(inp: Path) -> np.ndarray:
    import pyarrow.parquet as pq

    t = pq.read_table(inp / "embeddings.parquet")
    order = np.argsort(t.column("vec_id").to_numpy())
    m = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)[order]
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return m[:N_QUERIES] @ m.T


def oracle(inp: Path):
    """Expected result hashes, near-duplicate losers, exact cosine table
    and a DuckDB handle."""
    import duckdb

    import __spark_entry__ as entry
    from data_integration_case_study_spark.plans.text_queries import _CORPUS_SQL
    from scripts.check_oracle import value_hash

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp / (t + '.parquet')}')")
    sqls = dict(entry.oracle_sql())
    plain = "SELECT doc_id, text, lang, source FROM documents"
    for key, twin in NEAR_DUPS.items():
        if _CORPUS_SQL not in sqls[twin]:
            raise RuntimeError(f"{twin}: corpus CTE not found in its oracle SQL")
        sqls[key] = sqls[twin].replace(_CORPUS_SQL, plain)
    hashes, rows = {}, {}
    for name in (*CATALOG, *NEAR_DUPS):
        r = con.execute(sqls[name])
        rows[name] = r.fetchall()
        hashes[name] = value_hash(rows[name], [c[0] for c in r.description])
    losers = sorted({id_b for _, id_b, _ in rows["minhash"]})
    texts = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    return {"con": con, "hashes": hashes, "losers": losers, "cos": _cosines(inp),
            "texts": texts, "inp": inp}


def _topk(cos: np.ndarray) -> list[set[int]]:
    out = []
    for q, row in enumerate(cos):
        row = row.copy()
        row[q] = -np.inf
        out.append(set(np.argsort(-row, kind="stable")[:K].tolist()))
    return out


def _per_query(tbl) -> dict[int, set[int]]:
    got: dict[int, set[int]] = {}
    for q, c in zip(tbl.column("q_id").to_pylist(), tbl.column("c_id").to_pylist()):
        got.setdefault(q, set()).add(c)
    return got


def recall(tbl, cos: np.ndarray) -> float:
    got = _per_query(tbl)
    truth = _topk(cos)
    return sum(len(got.get(q, set()) & t) for q, t in enumerate(truth)) / (K * len(truth))


def verify(run: Run, ora: dict, res: dict, out: Path) -> None:
    from scripts.check_oracle import value_hash

    wrong = []
    for name in (*CATALOG, *NEAR_DUPS):
        tbl = res[name]
        rows = [tuple(r.values()) for r in tbl.to_pylist()]
        if value_hash(rows, tbl.column_names) != ora["hashes"][name]:
            wrong.append(name)
    cos = ora["cos"]
    if recall(res["cosine_topk_bruteforce"], cos) != 1.0:
        wrong.append("cosine_topk_bruteforce")
    for name in ("cosine_topk_bruteforce", "ann_lsh_topk"):
        t = res[name]
        exact = cos[t.column("q_id").to_numpy(), t.column("c_id").to_numpy()]
        if not np.allclose(t.column("cosine").to_numpy(), exact, rtol=0, atol=1e-9):
            wrong.append(f"{name} cosines")
    if not _features_ok(res["features"], ora["texts"]):
        wrong.append("extract_features")
    con = ora["con"]
    losers = ", ".join(str(i) for i in ora["losers"]) or "-1"
    diff = con.execute(f"""
        WITH exp AS (
          SELECT min(doc_id) AS doc_id FROM documents
          GROUP BY sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))),
        kept AS (SELECT doc_id FROM exp WHERE doc_id NOT IN ({losers})),
        got AS (SELECT doc_id FROM read_parquet('{out / CURATED}/*.parquet'))
        SELECT count(*) FROM ((SELECT * FROM got EXCEPT ALL SELECT * FROM kept)
                              UNION ALL (SELECT * FROM kept EXCEPT ALL SELECT * FROM got))
    """).fetchone()[0]
    if diff:
        wrong.append(f"curated ({diff} ids differ)")
    if wrong:
        run.wrong("corpus_curation: " + ", ".join(wrong))


def _features_ok(tbl, texts: list[tuple[int, str]]) -> bool:
    """Features are ``payload[i % len] / 255 + i * 0.001`` per position."""
    from data_integration_case_study_spark.multimodal.binary import FEATURE_DIM

    got = dict(zip(tbl.column("doc_id").to_pylist(), tbl.column("features").to_pylist()))
    if len(got) != len(texts):
        return False
    grid = np.arange(FEATURE_DIM)
    for doc_id, text in texts:
        b = np.frombuffer(text.encode(), dtype=np.uint8)
        want = b[grid % len(b)].astype(np.float64) / 255.0 + grid * 0.001
        if not np.array_equal(np.asarray(got[doc_id]), want):
            return False
    return True


def layer_extras(run: Run, ora: dict, results: list[dict], out: Path) -> dict:
    from data_integration_case_study_spark.operators import dedup
    from data_integration_case_study_spark.sources import readers

    docs = readers.read_parquet_table(run.spark, str(ora["inp"]), "documents")
    candidates = dedup.minhash_candidate_pairs(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.0).count()
    res = results[-1]
    curated = out / CURATED
    verified = res["minhash"].num_rows
    return {
        "operators.dedup.candidate_pairs": candidates,
        "operators.dedup.lsh_precision": verified / max(candidates, 1),
        "operators.similarity.ann_recall": recall(res["ann_lsh_topk"], ora["cos"]),
        "sources.sinks.bytes_written": sum(p.stat().st_size for p in curated.glob("*.parquet")),
        "sources.sinks.files_written": len(list(curated.glob("*.parquet"))),
    }
