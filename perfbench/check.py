"""Output checks for one run.

1. Every output's digest in every iteration equals its first digest in
   the run (and the checked warm pass's).
2. The outputs the first, cold warm pass wrote equal DuckDB twins over
   the same generated inputs. train_data reuses the library's own oracle SQL
   (`SparkEntry.oracleSql`, written by the harness) where the call
   shape matches; ss_sweep's calls read the reference file contract,
   which no registered oracle covers, so its twins are written here.

Each failed comparison counts one wrong output.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

TOL = 1e-9

with open(__file__, "rb") as _f:
    _SELF = hashlib.sha256(_f.read()).hexdigest()


def twin(data, key, compute):
    """A twin's result, cached beside the inputs it was computed from: it
    depends only on those inputs, `key` (the query) and this file."""
    h = hashlib.sha256((_SELF + key).encode()).hexdigest()[:20]
    path = os.path.join(data, "twins", f"{h}.parquet")
    if os.path.isfile(path):
        return pq.read_table(path).to_pandas()
    df = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def digest_mismatches(rec):
    first, bad = {}, []
    passes = [(it["i"], it["digests"]) for it in rec["iterations"] if not it["error"]]
    passes.append(("check", rec["check"]["digests"]))
    for i, digests in passes:
        for name, d in digests.items():
            if first.setdefault(name, d) != d:
                bad.append(f"digest of {name} in iteration {i} differs from its first")
    return bad


def spark_output(path):
    """A Spark parquet output directory, rows in partition order."""
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


def same(name, got, want):
    """Compare two frames column by column (by name) and row by row, in
    order. Floats agree to 1e-9 relative."""
    if sorted(got.columns) != sorted(want.columns):
        return f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows, twin has {len(want)}"
    cols = sorted(got.columns)
    got, want = got[cols].reset_index(drop=True), want[cols].reset_index(drop=True)
    for c in cols:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            ok = np.allclose(a.astype(float), b.astype(float), rtol=TOL, atol=TOL,
                             equal_nan=True)
        elif np.issubdtype(a.dtype, np.integer) and np.issubdtype(b.dtype, np.integer):
            ok = np.array_equal(a.astype(np.int64), b.astype(np.int64))
        else:
            ok = bool((pd.Series(a) == pd.Series(b)).all())
        if not ok:
            return f"{name}: column {c} differs"
    return None


# ---------------------------------------------------------------- ss_sweep

def _scores(path, shape, names):
    vals = np.loadtxt(path, dtype=np.float64).reshape(shape)
    idx = np.indices(shape).reshape(len(shape), -1)
    cols = {n: idx[i].astype(np.int64) for i, n in enumerate(names)}
    cols["shard_score"] = vals.ravel()
    return pa.table(cols)


def resolve_buckets(bsel, threshold):
    """The reference's greedy per-query bucket budget, written
    independently: walk (shard, bucket) in rank order, take the
    contiguous bucket prefix a row needs if it fits the budget."""
    out = []
    for q, g in bsel.sort_values(["query", "rank", "shard", "bucket"]).groupby("query"):
        taken, total = {}, 0
        for s, b in zip(g["shard"].to_numpy(), g["bucket"].to_numpy()):
            if total >= threshold:
                break
            cost = b + 1 - taken.get(s, 0)
            if cost >= 1 and total + cost <= threshold:
                taken[s] = taken.get(s, 0) + cost
                total += cost
        out += [(q, s, b) for s in sorted(taken) for b in range(taken[s])]
    return pa.table({"query": [o[0] for o in out], "shard": [o[1] for o in out],
                     "bucket": [o[2] for o in out]})


def sweep(con, unit_sel, unit_cols, ks, num_steps):
    """P@k at every step of a selection sweep. A row at depth > max(k)
    inside its own unit can never be among the first k of any step, so
    the twin keeps the first max(k) rows per unit; per query, step s
    averages rel over the first k rows (by global_rank) whose unit rank
    is below s."""
    on = " AND ".join(f"m.{c} = u.{c}" for c in unit_cols)
    part = ", ".join(f"m.{c}" for c in unit_cols)
    rows = con.execute(f"""
        SELECT m.query, m.rel, u.rank FROM merger m JOIN {unit_sel} u ON {on}
        WHERE u.rank < {num_steps}
        QUALIFY row_number() OVER (PARTITION BY {part} ORDER BY m.global_rank) <= {max(ks)}
        ORDER BY m.query, m.global_rank""").fetchnumpy()
    q, rel, rank = rows["query"], rows["rel"].astype(np.float64), rows["rank"]
    out = {"query": [], "step": []}
    out.update({f"p_{k}": [] for k in ks})
    bounds = np.flatnonzero(np.r_[True, np.diff(q) != 0, True])
    steps = np.arange(1, num_steps + 1)
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        m = rank[lo:hi][None, :] < steps[:, None]
        pos = np.cumsum(m, axis=1)
        live = m.any(axis=1)
        out["query"] += [int(q[lo])] * int(live.sum())
        out["step"] += steps[live].tolist()
        for k in ks:
            take = m & (pos <= k)
            out[f"p_{k}"] += ((take * rel[lo:hi]).sum(axis=1) / take.sum(axis=1).clip(1))[live].tolist()
    return pd.DataFrame(out)


def ss_twins(con, data, checkdir):
    sz = gen.SIZES["ss_sweep"]
    Q, S, B = sz["queries"], sz["shards"], sz["buckets"]
    files = ", ".join(f"'{data}/results/{gen.RESULTS_BASE}#{s}.results-{B}'" for s in range(S))
    con.execute(f"CREATE VIEW results AS SELECT * FROM read_parquet([{files}])")
    con.execute(f"CREATE VIEW merger AS SELECT * FROM read_parquet('{data}/merger.parquet')")
    con.register("sscore", _scores(f"{data}/shard_scores.csv", (Q, S), ["query", "shard"]))
    con.register("bscore", _scores(f"{data}/bucket_scores.csv", (Q, S, B),
                                   ["query", "shard", "bucket"]))
    con.execute("""CREATE TABLE sel AS SELECT query, shard, CAST(row_number() OVER
        (PARTITION BY query ORDER BY shard_score DESC, shard) - 1 AS INT) AS rank FROM sscore""")
    con.execute("""CREATE TABLE bsel AS SELECT query, shard, bucket, CAST(row_number() OVER
        (PARTITION BY query ORDER BY shard_score DESC, shard, bucket) - 1 AS INT) AS rank
        FROM bscore""")
    cols = "r.query, r.shard, r.rank, r.ldocid, r.gdocid, r.score, r.bucket"
    order = "ORDER BY r.query, r.score DESC, r.shard, r.bucket, r.gdocid"
    twins = {
        "select_t8": f"""SELECT {cols} FROM results r
            JOIN sel s ON r.query = s.query AND r.shard = s.shard WHERE s.rank < 8 {order}""",
    }
    con.register("resolved", resolve_buckets(con.execute("SELECT * FROM bsel").df(), 16))
    twins["select_buckets"] = f"""SELECT {cols} FROM results r JOIN resolved v
        ON r.query = v.query AND r.shard = v.shard AND r.bucket = v.bucket {order}"""
    wrong = []
    for name, sql in twins.items():
        wrong.append(same(name, spark_output(f"{checkdir}/{name}"),
                          twin(data, sql, lambda: con.execute(sql).df())))
    wrong.append(same("evaluate_buckets", spark_output(f"{checkdir}/evaluate_buckets"),
                      twin(data, "evaluate_buckets", lambda: sweep(
                          con, "bsel", ["query", "shard", "bucket"], [10, 30], S * B))))
    trec = twin(data, "to_trec", lambda: con.execute("""
        WITH top4 AS (SELECT m.* FROM merger m JOIN sel s
                      ON m.query = s.query AND m.shard = s.shard WHERE s.rank < 4)
        SELECT query, 'Q0' AS iter, title,
               CAST(row_number() OVER (PARTITION BY query ORDER BY score DESC, title) - 1 AS INT) AS rank,
               score, 'null' AS run_id
        FROM top4 QUALIFY rank < 100 ORDER BY query, rank""").df())
    got = pd.read_csv(f"{checkdir}/to_trec", sep="\t", header=None,
                      names=["query", "iter", "title", "rank", "score", "run_id"],
                      dtype={"iter": str, "title": str, "run_id": str},
                      keep_default_na=False)
    wrong.append(same("to_trec", got, trec))
    return [w for w in wrong if w]


# ---------------------------------------------------------------- oracles

def oracle_twins(con, data, rundir, pairs):
    for table in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data}/{table}.parquet')")
    wrong = []
    for output, oracle in pairs:
        with open(f"{rundir}/oracle/{oracle}.sql") as f:
            sql = f.read()
        wrong.append(same(output, spark_output(f"{rundir}/check/{output}"),
                          twin(data, sql, lambda: con.execute(sql).df())))
    return [w for w in wrong if w]


def check(workload, data, rundir, rec):
    """Returns (wrong output count, notes)."""
    notes = digest_mismatches(rec)
    if rec["check"]["error"]:
        return len(notes) + 1, notes + [f"checked warm pass failed: {rec['check']['error']}"]
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{rundir}/duckdb-tmp'")
    if workload == "ss_sweep":
        notes += ss_twins(con, data, f"{rundir}/check")
    else:
        notes += oracle_twins(con, data, rundir,
                              [("curation_pipeline", "curation_pipeline"),
                               ("batch_0", "ann_ivfpq_prebuilt_rerank")])
    con.close()
    return len(notes), notes
