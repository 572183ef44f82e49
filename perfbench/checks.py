"""Output checks: the harness's outputs against DuckDB twins, compared the
way tools/compare.py does (same column names, same type families, the same
rows with bit-identical values).

The twins are the program's own oracle SQL (ErOracles / TrainOracles,
exported by the harness to oracle_sql.json) run over the generated inputs;
where no oracle covers a configuration (clean-ER matching and clustering,
one incremental batch, the MinHash curation chain) the twin is composed
here from those oracles' fragments; the near-dup closure is a union-find,
which DuckDB's recursive CTE runs far slower. `run` returns one message per failed
check.
"""
import json
import os

import duckdb
import pyarrow as pa

# CurationPipeline(dedup = minhash) after the near-dup closure `cl`: the
# best quality per cluster (smallest id on ties), then the quality and
# language gates; `ta` is the txt_analysis twin
CURATED_SQL = """
WITH rk AS (SELECT cl.doc_id,
              ROW_NUMBER() OVER (PARTITION BY cl.cluster_rep
                                 ORDER BY ta.quality DESC, cl.doc_id ASC) AS rn
       FROM cl JOIN ta USING (doc_id))
SELECT ta.doc_id, ta.n_tokens, ta.quality, ta.lang_id
FROM ta JOIN rk USING (doc_id)
WHERE rk.rn = 1 AND ta.quality >= 0.5 AND ta.lang_id = 'en'"""

INCR_NEW = "CASE WHEN profile_id % 10 = 0 THEN 1 ELSE 0 END"


def family(t):
    t = str(t)
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    return t


def compare(con, name, got_sql, want_sql):
    """None when equal, else a one-line reason."""
    try:
        got, want = con.sql(got_sql), con.sql(want_sql)
        gt = dict(zip(got.columns, map(family, got.types)))
        wt = dict(zip(want.columns, map(family, want.types)))
        if sorted(gt) != sorted(wt):
            return f"{name}: columns {sorted(gt)} != {sorted(wt)}"
        if gt != wt:
            return f"{name}: types {gt} != {wt}"
        cols = sorted(gt)
        g = sorted(got.select(*cols).fetchall())
        w = sorted(want.select(*cols).fetchall())
    except duckdb.Error as e:
        return f"{name}: {e}"
    if len(g) != len(w):
        return f"{name}: {len(g)} rows != {len(w)}"
    bad = [(a, b) for a, b in zip(g, w) if a != b]
    return f"{name}: {len(bad)} rows differ, e.g. {bad[:2]}" if bad else None


def min_label(ids, edges):
    """Smallest id of each connected component (union-find)."""
    parent = {i: i for i in ids}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: root(i) for i in ids}


def replace_once(sql, old, new):
    assert sql.count(old) == 1, f"twin fragment not found once: {old!r}"
    return sql.replace(old, new)


def run(workload, inp, out, res):
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.sql("SET memory_limit = '2GB'")

    def table(name, path):
        con.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def spark_out(name):
        return f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')"

    fails = []

    def check(name, got_sql, want_sql):
        msg = compare(con, name, got_sql, want_sql)
        if msg:
            fails.append(msg)
        return msg is None

    if workload == "er_dirty_skewed":
        table("part", f"{inp}/part.parquet")
        check("candidates", spark_out("candidates"), oracle["er_wnp_cbs_avg_or_dirty"])
        check("matches", spark_out("matches"), oracle["er_match_edit"])
        check("entities", spark_out("entities"), oracle["er_entities"])
    elif workload == "er_incremental":
        table("corpus", f"{inp}/corpus/part.parquet")
        table("arrivals", f"{inp}/arrivals/part.parquet")
        table("batches", f"{out}/incremental/*.parquet")
        n, batch = res["sizes"]["profiles"], res["sizes"]["batch"]
        # the cold batch, the last batch pc/pq cover, and the run's last one
        (last,), = con.sql("SELECT max(batch) FROM batches").fetchall()
        for b in sorted({0, res["eval_batches"] - 1, last}):
            lo = n + b * batch
            con.sql(f"""CREATE OR REPLACE VIEW part AS
                SELECT * FROM corpus UNION ALL
                SELECT * FROM arrivals WHERE p_partkey < {lo + batch}""")
            twin = replace_once(oracle["er_incremental_wnp"], INCR_NEW,
                                f"CASE WHEN profile_id >= {lo} THEN 1 ELSE 0 END")
            check(f"incremental batch {b}",
                  f"SELECT p1, p2, cbs, n_new FROM batches WHERE batch = {b}", twin)
    elif workload == "curation_neardup":
        table("all_documents", f"{inp}/documents.parquet")
        con.sql("CREATE VIEW documents AS SELECT * FROM all_documents")
        con.sql(f"CREATE TEMP TABLE lsh AS {oracle['dedup_minhash_lsh']}")
        check("lsh pairs", spark_out("lsh"), "SELECT * FROM lsh")
        table("curated_out", f"{out}/curated/*.parquet")
        pack = replace_once(oracle["txt_pack"], "FROM documents)",
                            "FROM documents WHERE doc_id IN (SELECT doc_id FROM curated_out))")
        check("packed", spark_out("packed"), pack)
        # the text-analysis twin is slow (per-token list lambdas), so the
        # curated set is checked on the near-dup clusters whose smallest id
        # is divisible by 4: whole clusters, so survivorship is exact
        ids = [d for (d,) in con.sql("SELECT doc_id FROM documents").fetchall()]
        rep = min_label(ids, con.sql("SELECT d1, d2 FROM lsh").fetchall())
        sub = [d for d in ids if rep[d] % 4 == 0]
        con.register("cl", pa.table({"doc_id": pa.array(sub, pa.int64()),
                                     "cluster_rep": pa.array([rep[d] for d in sub], pa.int64())}))
        con.sql("CREATE OR REPLACE VIEW documents AS "
                "SELECT * FROM all_documents WHERE doc_id IN (SELECT doc_id FROM cl)")
        con.sql(f"CREATE TEMP TABLE ta AS {oracle['txt_analysis']}")
        check("curated", "SELECT * FROM curated_out WHERE doc_id IN (SELECT doc_id FROM cl)",
              CURATED_SQL)
    else:
        raise ValueError(workload)
    return fails

