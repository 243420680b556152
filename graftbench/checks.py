"""Output checks that need DuckDB. They run after the benchmark JVM has
ended, on files it left in the run's work directory, and never inside a
timed region. Each returns {call id: what failed}."""
import glob
import os

import duckdb

TABLES = ["documents", "embeddings"]


def _views(con, d: str) -> None:
    for t in TABLES:
        p = os.path.join(d, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")


def corpus_curation(rec: dict, work: str) -> dict:
    f = rec["check_facts"]
    con = duckdb.connect()
    _views(con, os.path.join(work, "corpus"))
    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    fails = {}
    n_docs = one("SELECT count(*) FROM documents")
    n_emb = one("SELECT count(*) FROM embeddings")
    if n_docs != f.get("documents_rows") or n_emb != f.get("embeddings_rows"):
        fails["dedup_exact"] = f"input rows {n_docs}/{n_emb} differ from the record"
    norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    if "dedup_exact_kept" in f:
        distinct = one(f"SELECT count(DISTINCT {norm}) FROM documents")
        if f["dedup_exact_rows"] != n_docs or f["dedup_exact_kept"] != distinct:
            fails["dedup_exact"] = (f"kept {f['dedup_exact_kept']} of "
                                    f"{f['dedup_exact_rows']}, DuckDB {distinct} of {n_docs}")
    pairs = os.path.join(work, "check", "minhash_pairs")
    if glob.glob(os.path.join(pairs, "*.parquet")):
        con.execute(f"CREATE VIEW lsh AS SELECT * FROM '{pairs}/*.parquet'")
        missed = one(f"""SELECT count(*) FROM
            (SELECT a.doc_id AS x, b.doc_id AS y FROM documents a JOIN documents b
               ON {norm.replace('text', 'a.text')} = {norm.replace('text', 'b.text')}
              AND a.doc_id < b.doc_id) e
            ANTI JOIN lsh ON lsh.id_a = e.x AND lsh.id_b = e.y""")
        stray = one("SELECT count(*) FROM lsh WHERE id_a >= id_b OR id_a NOT IN "
                    "(SELECT doc_id FROM documents) OR id_b NOT IN (SELECT doc_id FROM documents)")
        if missed or stray:
            fails["minhash_lsh"] = f"{missed} exact-duplicate pairs missed, {stray} bad pairs"
    knn = os.path.join(work, "check", "knn")
    if glob.glob(os.path.join(knn, "*.parquet")):
        con.execute(f"CREATE VIEW knn AS SELECT * FROM '{knn}/*.parquet'")
        rows = one("SELECT count(*) FROM knn")
        bad = one("SELECT count(*) FROM knn WHERE neighbor_id NOT IN (SELECT vec_id FROM embeddings)"
                  " OR neighbor_id = query_id OR rank < 1 OR rank > " + str(f["knn_k"]))
        if rows != f["knn_queries"] * f["knn_k"] or bad:
            fails["knn_brute"] = f"{rows} neighbour rows, {bad} invalid"
    curated = glob.glob(os.path.join(work, "curated", "*.parquet"))
    if "curate_keep" in f:
        written = one(f"SELECT count(*) FROM read_parquet({curated!r})") if curated else 0
        unknown = one(f"SELECT count(*) FROM read_parquet({curated!r}) WHERE doc_id NOT IN "
                      "(SELECT doc_id FROM documents)") if curated else 0
        if written != f["curate_keep"] or unknown:
            fails["curate_write"] = f"wrote {written} rows, funnel keeps {f['curate_keep']}"
    return fails


def run(workload: str, rec: dict, work: str) -> dict:
    if workload == "corpus_curation":
        return corpus_curation(rec, work)
    return {}
