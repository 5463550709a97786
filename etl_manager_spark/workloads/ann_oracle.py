"""DuckDB oracle factories for the approximate-similarity queries.

The three ANN workloads (hyperplane-LSH top-k, IVF-Flat top-k, LSH
near-dup pairs) are approximate *by design* but fully *deterministic by
construction*: the hyperplanes are md5-derived (no RNG state), the IVF
centroids come from a deterministic hash-threshold sample + fixed-iteration
spherical k-means, and every float decision on the Spark side uses
sequential-across-dims accumulation — bitwise-identical to DuckDB's
``LIST_DOT_PRODUCT``. That makes the whole pipeline SQL-expressible:

- plane/centroid vectors are embedded as ``%.17e`` double literals
  (exact round-trip — 17 significant digits uniquely identify a float64);
- bucket assignment, list assignment, probe ranking, candidate
  generation, exact rescoring, top-k ranking, and the
  recall-vs-bruteforce ratio are all recomputed independently in SQL.

Every factory takes the data dir its oracle is checked against. The
trained ones (IVF centroids, PCA, PQ and ADC codebooks) re-train from
that dir's embeddings parquet with the same shared trainer the Spark path
uses, so the literals they embed are bit-for-bit the closure constants
the Spark plan carries when it runs over the same dir. Callers reach
them through ``Workload.oracle_for(sf_dir)``, which memoizes per dir.
"""

from __future__ import annotations

import numpy as np

from etl_manager_spark.operators.similarity import (
    _hyperplane,
    _sorted_sample_centroids,
)

DIM = 64
NUM_PLANES = 3
NUM_TABLES = 16
SEED_BASE = 7
K = 5
N_QUERIES = 5
IVF_LISTS = 8
IVF_NPROBE = 3
IVF_TRAIN_SAMPLE = 1024
NEARDUP_THRESHOLD = "0.4"
SAMPLE_HEX = "80000000"  # 50% md5 hash-threshold recall sample


def _lit(vals) -> str:
    """Exact-round-trip DOUBLE[] literal (scientific notation parses as
    DOUBLE directly, never through DECIMAL)."""
    return "[" + ",".join("%.17e" % float(x) for x in vals) + "]"


def _embedding_rows(sf_dir: str, tail: str = "") -> list:
    """``(vec_id, DOUBLE[] embedding)`` rows of ``sf_dir``'s embeddings
    parquet (float32 widened exactly — the trainers' float64 inputs);
    ``tail`` appends a WHERE / ORDER BY clause."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet'){tail}"
    ).fetchall()
    con.close()
    return rows


def _cos(a: str, b: str) -> str:
    """The exact cosine expression both engines share bitwise. Zero-norm
    vectors score 0.0, the convention operators.similarity.safe_cosine_expr
    pins (DuckDB's raw x/0 would yield NULL and rank differently)."""
    return (
        f"(CASE WHEN LIST_DOT_PRODUCT({a}, {a}) = 0"
        f" OR LIST_DOT_PRODUCT({b}, {b}) = 0 THEN 0.0"
        f" ELSE LIST_DOT_PRODUCT({a}, {b}) / "
        f"(SQRT(LIST_DOT_PRODUCT({a}, {a})) * SQRT(LIST_DOT_PRODUCT({b}, {b})))"
        f" END)"
    )


def _bucket_columns() -> str:
    """Per-table LSH bucket expressions b0..b{T-1}, same planes and bit
    weights as ``operators.similarity.lsh_table_keys``."""
    cols = []
    for t in range(NUM_TABLES):
        parts = []
        for p in range(NUM_PLANES):
            plane = _lit(_hyperplane(DIM, (SEED_BASE + t) * 1000 + p))
            parts.append(
                f"(CASE WHEN LIST_DOT_PRODUCT(v, {plane}) > 0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        cols.append("(" + " + ".join(parts) + f") AS b{t}")
    return ", ".join(cols)


def _collide() -> str:
    return " OR ".join(f"a.b{t} = c.b{t}" for t in range(NUM_TABLES))


_EXACT_TOPK = f"""
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos('q.v', 'c.v')} DESC NULLS LAST, c.vec_id ASC NULLS FIRST) AS rnk
        FROM e q JOIN e c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rnk <= {K}
    )"""

_RECALL_TAIL = """
    overlap AS (
      SELECT COUNT(*) AS n
      FROM approx a JOIN exact x
        ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    ),
    rec AS (
      SELECT CAST(o.n AS DOUBLE) / t.n AS recall_vs_bruteforce
      FROM overlap o, (SELECT COUNT(*) AS n FROM exact) t
    )
    SELECT a.query_id, a.rank, a.neighbor_id, a.cosine_sim,
           r.recall_vs_bruteforce
    FROM approx a CROSS JOIN rec r"""


def lsh_topk_oracle(sf_dir: str) -> str:
    """similarity_topk_lsh: bucket in SQL from the same plane literals,
    candidate = collision in ANY table, exact rescoring, top-k, recall."""
    return f"""
    WITH e AS (SELECT DISTINCT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE embedding IS NOT NULL AND LEN(embedding) = 64),
    b AS (SELECT vec_id, v, {_bucket_columns()} FROM e),
    cand AS (
      SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_cos('a.v', 'c.v')} AS cosine_sim
      FROM b a JOIN b c ON a.vec_id <> c.vec_id AND ({_collide()})
      WHERE a.vec_id < {N_QUERIES}
    ),
    approx AS (
      SELECT query_id, neighbor_id, cosine_sim,
             CAST("rank" AS INTEGER) AS rank
      FROM (SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC NULLS LAST, neighbor_id ASC NULLS FIRST) AS "rank"
            FROM cand)
      WHERE "rank" <= {K}
    ),{_EXACT_TOPK},{_RECALL_TAIL}"""


def _ivf_centroids(sf_dir: str) -> list[list[float]]:
    """Re-train the IVF centroids from ``sf_dir`` with the shared
    deterministic trainer — identical float64 inputs and identical code
    path to the Spark query's driver-side training, so the centroid
    literals match bit-for-bit."""
    return _sorted_sample_centroids(
        _embedding_rows(sf_dir), IVF_LISTS, IVF_TRAIN_SAMPLE
    )


def ivf_topk_oracle(sf_dir: str) -> str:
    """similarity_topk_ivf: embed the (re-trained) centroid literals,
    assign every corpus vector to its argmax list, probe the nprobe
    nearest lists per query, exact rescoring, top-k, recall."""
    cent_rows = ", ".join(
        f"({j + 1}, {_lit(c)})" for j, c in enumerate(_ivf_centroids(sf_dir))
    )
    return f"""
    WITH e AS (SELECT DISTINCT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE embedding IS NOT NULL AND LEN(embedding) = 64),
    cent(list_id, c) AS (SELECT * FROM (VALUES {cent_rows}) t(list_id, c)),
    assign AS (
      SELECT vec_id, v, list_id FROM (
        SELECT e.vec_id, e.v, cent.list_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY LIST_DOT_PRODUCT(e.v, cent.c) DESC NULLS LAST, cent.list_id ASC NULLS FIRST
               ) AS rn
        FROM e CROSS JOIN cent
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT vec_id, list_id FROM (
        SELECT e.vec_id, cent.list_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY LIST_DOT_PRODUCT(e.v, cent.c) DESC NULLS LAST, cent.list_id ASC NULLS FIRST
               ) AS rn
        FROM e CROSS JOIN cent WHERE e.vec_id < {N_QUERIES}
      ) WHERE rn <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             {_cos('q.v', 'a.v')} AS cosine_sim
      FROM e q
      JOIN probe p ON q.vec_id = p.vec_id
      JOIN assign a ON a.list_id = p.list_id AND a.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    approx AS (
      SELECT query_id, neighbor_id, cosine_sim,
             CAST("rank" AS INTEGER) AS rank
      FROM (SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC NULLS LAST, neighbor_id ASC NULLS FIRST) AS "rank"
            FROM cand)
      WHERE "rank" <= {K}
    ),{_EXACT_TOPK},{_RECALL_TAIL}"""


def semdedup_oracle(sf_dir: str) -> str:
    """semdedup_embeddings: embed the (re-trained) centroid literals,
    assign every vector to its argmax cluster, enumerate within-cluster
    pairs (id_a < id_b), exact cosine gate at the near-dup threshold."""
    cent_rows = ", ".join(
        f"({j + 1}, {_lit(c)})" for j, c in enumerate(_ivf_centroids(sf_dir))
    )
    return f"""
    WITH e AS (SELECT DISTINCT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE embedding IS NOT NULL AND LEN(embedding) = 64),
    cent(list_id, c) AS (SELECT * FROM (VALUES {cent_rows}) t(list_id, c)),
    assign AS (
      SELECT vec_id, v, list_id FROM (
        SELECT e.vec_id, e.v, cent.list_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY LIST_DOT_PRODUCT(e.v, cent.c) DESC NULLS LAST, cent.list_id ASC NULLS FIRST
               ) AS rn
        FROM e CROSS JOIN cent
      ) WHERE rn = 1
    )
    SELECT CAST(a.list_id AS INTEGER) AS cluster,
           a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos('a.v', 'b.v')} AS cosine_sim
    FROM assign a JOIN assign b
      ON a.list_id = b.list_id AND a.vec_id < b.vec_id
    WHERE {_cos('a.v', 'b.v')} >= {NEARDUP_THRESHOLD}"""


def lsh_neardup_oracle(sf_dir: str) -> str:
    """dedup_embedding_cosine_lsh: bucket-join candidate pairs (id_a <
    id_b, collision in ANY table), exact cosine gate, recall vs the exact
    pair set over the 50% md5 hash-threshold subsample."""
    return f"""
    WITH e AS (SELECT DISTINCT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE embedding IS NOT NULL AND LEN(embedding) = 64),
    b AS (SELECT vec_id, v, {_bucket_columns()} FROM e),
    approx AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             {_cos('a.v', 'c.v')} AS cosine_sim
      FROM b a JOIN b c ON a.vec_id < c.vec_id AND ({_collide()})
      WHERE {_cos('a.v', 'c.v')} >= {NEARDUP_THRESHOLD}
    ),
    sample AS (
      SELECT vec_id, v FROM e
      WHERE SUBSTRING(MD5(CAST(vec_id AS VARCHAR)), 1, 8) < '{SAMPLE_HEX}'
    ),
    exact AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b
      FROM sample a JOIN sample c ON a.vec_id < c.vec_id
      WHERE {_cos('a.v', 'c.v')} >= {NEARDUP_THRESHOLD}
    ),
    overlap AS (
      SELECT COUNT(*) AS n
      FROM approx a JOIN exact x ON a.id_a = x.id_a AND a.id_b = x.id_b
    ),
    rec AS (
      SELECT CAST(o.n AS DOUBLE) / t.n AS recall_vs_bruteforce
      FROM overlap o, (SELECT COUNT(*) AS n FROM exact) t
    )
    SELECT a.id_a, a.id_b, a.cosine_sim, r.recall_vs_bruteforce
    FROM approx a CROSS JOIN rec r"""


PCA_COMPONENTS = 2
PCA_TRAIN_SAMPLE = 1024


def _pca_params(sf_dir: str) -> tuple[list[float], list[list[float]]]:
    """Re-train the PCA mean/components from ``sf_dir`` with the shared
    deterministic trainer (same contract as ``_ivf_centroids``) —
    identical float64 inputs and identical numpy code path to the Spark
    query's driver-side training."""
    from etl_manager_spark.operators.similarity import _sorted_sample_pca

    return _sorted_sample_pca(
        _embedding_rows(sf_dir), PCA_COMPONENTS, PCA_TRAIN_SAMPLE
    )


def pca_project_oracle(sf_dir: str) -> str:
    """pca_project_embeddings: embed the (re-trained) mean/component
    literals and render the SAME left-associative per-dimension sum
    chain the Spark projection evaluates — bitwise-equal projections,
    then the shared nano-quantization."""
    mean, comps = _pca_params(sf_dir)

    def chain(comp: list[float]) -> str:
        return " + ".join(
            f"((v[{i + 1}] - {mean[i]:.17e}) * {comp[i]:.17e})"
            for i in range(len(comp))
        )

    pc_cols = ",\n           ".join(
        f"CAST(FLOOR(({chain(comp)}) * 1000000000.0 + 0.5) AS BIGINT)"
        f" AS pc{k}_q"
        for k, comp in enumerate(comps, start=1)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE embedding IS NOT NULL AND LEN(embedding) = 64)
    SELECT vec_id,
           {pc_cols}
    FROM e"""


PQ_SUBSPACES = 8
PQ_CENTROIDS = 8
PQ_TRAIN_SAMPLE = 1024


def _pq_codebooks(sf_dir: str) -> list[list[list[float]]]:
    """Re-train the PQ codebooks from ``sf_dir`` with the shared
    deterministic trainer (same contract as ``_ivf_centroids``)."""
    from etl_manager_spark.operators.similarity import _sorted_sample_pq

    return _sorted_sample_pq(
        _embedding_rows(sf_dir), PQ_SUBSPACES, PQ_CENTROIDS, PQ_TRAIN_SAMPLE
    )


def pq_encode_oracle(sf_dir: str) -> str:
    """pq_encode_embeddings: embed the codebook literals and replay the
    per-subspace squared-L2 argmin (struct sort = (dist, index) — the
    same tie-break as Spark's array_min over structs) and the
    subspace-ordered reconstruction-error sum."""
    books = _pq_codebooks(sf_dir)
    d = len(books[0][0])

    def dist2(m: int, c: list[float]) -> str:
        cv = _lit(c)
        return (
            f"LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, {d + 1}), i -> "
            f"(vv[{m * d} + i] - ({cv})[i]) * (vv[{m * d} + i] - ({cv})[i])"
            f"), 'sum')"
        )

    best_cols = ",\n           ".join(
        "LIST_SORT(["
        + ", ".join(
            f"struct_pack(d := {dist2(m, c)}, k := {k})"
            for k, c in enumerate(book)
        )
        + f"])[1] AS best_{m}"
        for m, book in enumerate(books)
    )
    code_cols = ",\n           ".join(
        f"CAST(best_{m}.k AS INTEGER) AS code_{m}" for m in range(len(books))
    )
    recon = " + ".join(f"best_{m}.d" for m in range(len(books)))
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
               WHERE embedding IS NOT NULL AND LEN(embedding) = 64),
    scored AS (
      SELECT vec_id,
           {best_cols}
      FROM v
    )
    SELECT vec_id,
           {code_cols},
           CAST(FLOOR(({recon}) * 1000000000.0 + 0.5) AS BIGINT)
             AS recon_err_q
    FROM scored"""


ADC_SUBSPACES = 16
ADC_CENTROIDS = 32
ADC_RERANK = 50


def _adc_codebooks(sf_dir: str) -> list[list[list[float]]]:
    """ADC codebooks (finer than the compression demo's 8x8: 16
    subspaces x 32 codewords — tuned so the shortlist+rerank search
    reaches recall 1.0 on the weak-neighbor synthetic embeddings)."""
    from etl_manager_spark.operators.similarity import _sorted_sample_pq

    return _sorted_sample_pq(
        _embedding_rows(sf_dir), ADC_SUBSPACES, ADC_CENTROIDS, PQ_TRAIN_SAMPLE
    )


def _pq_scored_cte(books: list[list[list[float]]]) -> str:
    """The per-vector PQ code assignment CTE shared by the encode and
    ADC oracles (codebook literals embedded)."""
    d = len(books[0][0])

    def dist2(m: int, c: list[float]) -> str:
        cv = _lit(c)
        return (
            f"LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, {d + 1}), i -> "
            f"(vv[{m * d} + i] - ({cv})[i]) * (vv[{m * d} + i] - ({cv})[i])"
            f"), 'sum')"
        )

    best_cols = ",\n           ".join(
        "LIST_SORT(["
        + ", ".join(
            f"struct_pack(d := {dist2(m, c)}, k := {k})"
            for k, c in enumerate(book)
        )
        + f"])[1] AS best_{m}"
        for m, book in enumerate(books)
    )
    return f"""
    v AS (SELECT DISTINCT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
               WHERE embedding IS NOT NULL AND LEN(embedding) = 64),
    scored AS (
      SELECT vec_id,
           {best_cols}
      FROM v
    )"""


def pq_adc_oracle(sf_dir: str) -> str:
    """similarity_topk_pq_adc: replay the code assignment, embed the
    shared ADC lookup-table literals, shortlist the top ADC_RERANK
    candidates per query by the subspace-ordered LUT sum, rerank the
    shortlist by EXACT squared L2, and compute recall against the exact
    top-k — the production PQ search (coarse-but-cheap shortlist, exact
    rescoring of R rows)."""
    from etl_manager_spark.operators.similarity import pq_adc_luts

    books = _adc_codebooks(sf_dir)
    m_count = len(books)
    fetched = _embedding_rows(
        sf_dir, f" WHERE vec_id < {N_QUERIES} ORDER BY vec_id, embedding"
    )
    # duplicate query ids collapse to their lexicographically-least
    # vector — the same rule the Spark workload applies before keying
    # its rerank MAP by query_id
    qrows = []
    for r in fetched:
        if not qrows or qrows[-1][0] != r[0]:
            qrows.append(r)
    if not qrows:
        # no query vectors: empty result with the full schema (the Spark
        # side returns the same empty frame)
        return """
    SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS neighbor_id,
           CAST(NULL AS BIGINT) AS dist2_q, CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS DOUBLE) AS recall_vs_bruteforce
    WHERE FALSE"""
    luts = pq_adc_luts([list(r[1]) for r in qrows], books)
    q_rows_sql = ", ".join(
        "("
        + ", ".join(
            [str(int(r[0])), _lit(r[1])]
            + [_lit(luts[i][m]) for m in range(m_count)]
        )
        + ")"
        for i, r in enumerate(qrows)
    )
    lut_cols = ", ".join(f"l{m}" for m in range(m_count))
    adist = " + ".join(
        f"(q.l{m})[s.best_{m}.k + 1]" for m in range(m_count)
    )
    exact_d2 = (
        f"LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, {DIM + 1}), "
        "i -> (c.vv[i] - q.qv[i]) * (c.vv[i] - q.qv[i])), 'sum')"
    )
    return f"""
    WITH {_pq_scored_cte(books)},
    q(qid, qv, {lut_cols}) AS (VALUES {q_rows_sql}),
    cand AS (
      SELECT q.qid AS query_id, s.vec_id AS neighbor_id,
             {adist} AS adist
      FROM scored s CROSS JOIN q
      WHERE s.vec_id <> q.qid
    ),
    shortlist AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY adist ASC NULLS FIRST, neighbor_id ASC NULLS FIRST) AS arn
            FROM cand)
      WHERE arn <= {ADC_RERANK}
    ),
    reranked AS (
      SELECT sl.query_id, sl.neighbor_id, {exact_d2} AS d2
      FROM shortlist sl
      JOIN v c ON c.vec_id = sl.neighbor_id
      JOIN q ON q.qid = sl.query_id
    ),
    approx AS (
      SELECT query_id, neighbor_id,
             CAST(FLOOR(d2 * 1000000000.0 + 0.5) AS BIGINT) AS dist2_q,
             CAST("rank" AS INTEGER) AS rank
      FROM (SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY d2 ASC NULLS FIRST, neighbor_id ASC NULLS FIRST) AS "rank"
            FROM reranked)
      WHERE "rank" <= {K}
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid
                 ORDER BY {exact_d2} ASC NULLS FIRST, c.vec_id ASC NULLS FIRST) AS rnk
        FROM v c CROSS JOIN q WHERE c.vec_id <> q.qid
      ) WHERE rnk <= {K}
    ),
    overlap AS (
      SELECT COUNT(*) AS n
      FROM approx a JOIN exact x
        ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    ),
    rec AS (
      SELECT CAST(o.n AS DOUBLE) / t.n AS recall_vs_bruteforce
      FROM overlap o, (SELECT COUNT(*) AS n FROM exact) t
    )
    SELECT a.query_id, a.rank, a.neighbor_id, a.dist2_q,
           r.recall_vs_bruteforce
    FROM approx a CROSS JOIN rec r"""


MMR_SHORTLIST = 20
MMR_K = 5
MMR_LAMBDA = 0.7


def mmr_oracle(sf_dir: str) -> str:
    """similarity_mmr_diversified: exact top-20 shortlist per query,
    all pairwise candidate sims, then MMR_K unrolled greedy argmax
    steps of λ·sim(q,c) − (1−λ)·max sim(c, selected) with ties to the
    smallest id — the same sims and the same scalar ops the Spark
    Arrow loop evaluates, so scores hash-match bitwise."""
    lam = "%.17e" % MMR_LAMBDA
    one_minus = "%.17e" % (1.0 - MMR_LAMBDA)
    steps = []
    sel_union = "SELECT query_id, nid FROM s1"
    for step in range(2, MMR_K + 1):
        prev_sel = f"sel{step - 1}"
        steps.append(f"""
    {prev_sel} AS ({sel_union}),
    m{step} AS (
      SELECT p.query_id, p.a AS nid, MAX(p.sim_ab) AS mx
      FROM pair p JOIN {prev_sel} s
        ON p.query_id = s.query_id AND p.b = s.nid
      GROUP BY p.query_id, p.a
    ),
    sc{step} AS (
      SELECT c.query_id, c.nid,
             {lam} * c.simq - {one_minus} * m.mx AS score
      FROM cand c JOIN m{step} m
        ON c.query_id = m.query_id AND c.nid = m.nid
      WHERE NOT EXISTS (SELECT 1 FROM {prev_sel} s
                        WHERE s.query_id = c.query_id AND s.nid = c.nid)
    ),
    s{step} AS (
      SELECT query_id, nid, score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC NULLS LAST, nid ASC NULLS FIRST) AS rn
        FROM sc{step}) WHERE rn = 1
    )""")
        sel_union += f" UNION ALL SELECT query_id, nid FROM s{step}"
    final = "\n    UNION ALL\n    ".join(
        f"SELECT query_id, {i} AS mmr_rank, nid AS neighbor_id, "
        f"CAST(FLOOR(score * 1000000000.0 + 0.5) AS BIGINT) AS mmr_score_q "
        f"FROM s{i}"
        for i in range(1, MMR_K + 1)
    )
    return f"""
    WITH e AS (SELECT DISTINCT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE embedding IS NOT NULL AND LEN(embedding) = 64),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < {N_QUERIES}),
    scoredq AS (
      SELECT q.vec_id AS query_id, c.vec_id AS nid, c.v AS cv,
             {_cos('q.v', 'c.v')} AS simq,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY {_cos('q.v', 'c.v')} DESC NULLS LAST, c.vec_id ASC NULLS FIRST) AS rnk
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    ),
    cand AS (SELECT query_id, nid, cv, simq FROM scoredq
             WHERE rnk <= {MMR_SHORTLIST}),
    pair AS (
      SELECT a.query_id, a.nid AS a, b.nid AS b,
             {_cos('a.cv', 'b.cv')} AS sim_ab
      FROM cand a JOIN cand b
        ON a.query_id = b.query_id AND a.nid <> b.nid
    ),
    s1 AS (
      SELECT query_id, nid, {lam} * simq - {one_minus} * 0.0 AS score
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY {lam} * simq - {one_minus} * 0.0 DESC NULLS LAST, nid ASC NULLS FIRST) AS rn
            FROM cand) WHERE rn = 1
    ),{",".join(steps)}
    {final}"""
