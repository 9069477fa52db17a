"""Correctness gate: DuckDB answers over the same files the engine read or
wrote. Each check returns (name, ok, detail); run.py counts a failed check
as a failed operation.
"""
import decimal
import math

import duckdb
import numpy as np
import pandas as pd

# keep-last keys and stored value columns per market dataset
MARKET = {
    "esios": (["mercado", "datetime_utc", "id_mercado"], ["precio", "batch_id"]),
    "i90": (["datetime_utc", "up", "id_mercado"], ["volumenes", "batch_id"]),
    "omie": (["datetime_utc", "uof", "id_mercado"], ["volumenes", "batch_id"]),
}


def _q(p):
    return p.replace("'", "''")


def check_market(v):
    """The lake equals an independent keep-last over the transformed rows of
    every file landed in it (highest batch wins per key)."""
    out = []
    con = duckdb.connect()
    for ds, (keys, vals) in MARKET.items():
        cols = ", ".join(f"CAST({c} AS INTEGER) AS {c}" if c == "id_mercado" else c
                         for c in keys + vals)
        want = f"""SELECT {cols} FROM (
                     SELECT *, row_number() OVER (
                       PARTITION BY {", ".join(keys)} ORDER BY batch_id DESC) AS rn
                     FROM read_parquet('{_q(v["transformed_" + ds])}/*.parquet'))
                   WHERE rn = 1"""
        got = f"""SELECT {cols} FROM read_parquet(
                    '{_q(v["lake_" + ds])}/**/*.parquet', hive_partitioning = true)"""
        try:
            n_want, n_got = (con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
                             for q in (want, got))
            miss = con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
            extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
            ok = n_want == n_got and miss == 0 and extra == 0 and n_want > 0
            out.append((f"market {ds}", ok,
                        f"expected {n_want} rows, lake {n_got}, missing {miss}, extra {extra}"))
        except Exception as e:  # noqa: BLE001 - a failed check, not a crash
            out.append((f"market {ds}", False, f"{type(e).__name__}: {e}"))
    return out


# --------------------------------------------------------------- lake_query --

def _round6(x):
    """Quantiles.round6: HALF_UP at 6 places of the double's decimal form."""
    return float(decimal.Decimal(repr(x)).quantize(decimal.Decimal("1e-6"),
                                                   rounding=decimal.ROUND_HALF_UP))


def _in(ids):
    return "(" + ", ".join(str(int(i)) for i in ids) + ")"


def _lake_sql(root, q):
    pre = f"read_parquet('{_q(root)}/precios/**/*.parquet', hive_partitioning = true)"
    omie = f"read_parquet('{_q(root)}/volumenes_omie/**/*.parquet', hive_partitioning = true)"
    i90 = f"read_parquet('{_q(root)}/volumenes_i90/**/*.parquet', hive_partitioning = true)"
    rng = f"datetime_utc >= TIMESTAMP '{q['from']}' AND datetime_utc <= TIMESTAMP '{q['to']}'"
    t = q["template"]
    if t == "point":
        return (f"SELECT epoch_us(datetime_utc), id_mercado, precio FROM {pre} "
                f"WHERE mercado = '{q['mercado']}' AND id_mercado IN {_in(q['ids'])} AND {rng}")
    if t == "range":
        ors = " OR ".join(f"(mercado = '{m}' AND id_mercado IN {_in(ids)})"
                          for m, ids in q["markets"].items())
        return (f"SELECT epoch_us(datetime_utc), id_mercado, precio FROM {pre} "
                f"WHERE {rng} AND ({ors})")
    if t == "join":
        return (f"""SELECT epoch_us(p.datetime_utc), sum(p.precio * v.volumenes), count(*)
                    FROM (SELECT * FROM {pre} WHERE mercado = 'diario'
                          AND id_mercado IN (1) AND {rng}) p
                    JOIN (SELECT * FROM {omie} WHERE mercado = 'diario'
                          AND id_mercado IN (1) AND {rng}) v
                      ON p.datetime_utc = v.datetime_utc AND p.id_mercado = v.id_mercado
                    GROUP BY p.datetime_utc""")
    base = (f"(SELECT datetime_utc, id_mercado, precio FROM {pre} WHERE mercado = "
            f"'{q.get('mercado')}' AND id_mercado IN {_in(q.get('ids', [0]))} AND {rng})")
    if t == "window" and q["kind"] == "rolling":
        return (f"""SELECT epoch_us(datetime_utc), id_mercado, precio,
                      avg(precio) OVER (PARTITION BY id_mercado ORDER BY datetime_utc
                                        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
                    FROM {base}""")
    if t == "window":
        return (f"SELECT epoch_us(date_trunc('hour', datetime_utc)), id_mercado, avg(precio) "
                f"FROM {base} GROUP BY 1, 2")
    if t == "sql_view":
        return (f"""SELECT uof, sum(volumenes) AS v, count(*) AS n FROM {omie}
                    WHERE datetime_utc >= TIMESTAMP '{q['from']}'
                      AND datetime_utc < TIMESTAMP '{q['to']}'
                    GROUP BY uof ORDER BY v DESC, uof LIMIT {int(q['limit'])}""")
    if t == "quantiles":
        return f"SELECT CAST(volumenes AS DOUBLE) AS v FROM {i90} WHERE {rng}"
    raise ValueError(t)


def _quantile_answer(con, sql, q):
    v = f"({sql})"
    if q["kind"] == "exact":
        r = con.execute(f"SELECT quantile_cont(v, [0.01, 0.5, 0.99]) FROM {v}").fetchone()[0]
        return [list(r)]
    lo, hi = con.execute(f"SELECT quantile_cont(v, 0.01), quantile_cont(v, 0.99) FROM {v}").fetchone()
    lo, hi = _round6(lo), _round6(hi)
    r = con.execute(f"""SELECT count(*) FILTER (WHERE v < {lo!r}),
                               count(*) FILTER (WHERE v > {hi!r}),
                               CAST(sum(CAST(greatest(least(v, {hi!r}), {lo!r})
                                             AS DECIMAL(28, 6))) AS DOUBLE)
                        FROM {v}""").fetchone()
    return [[lo, hi, r[0], r[1], r[2]]]


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return str(a) == str(b)
    a, b = float(a), float(b)
    return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _sort_key(row):
    return tuple((0, str(x)) if isinstance(x, str) else
                 (1, 0.0) if x is None else (2, round(float(x), 6)) for x in row)


def check_queries(v, queries):
    """Each distinct query's first answer equals DuckDB's over the lake."""
    out = []
    con = duckdb.connect()
    root = v["lake_root"]
    for ans in v.get("answers", []):
        q = queries[ans["i"]]
        name = f"query {ans['i']} {q['template']}"
        try:
            sql = _lake_sql(root, q)
            want = (_quantile_answer(con, sql, q) if q["template"] == "quantiles"
                    else [list(r) for r in con.execute(sql).fetchall()])
            got = ans["rows"]
            if q["template"] != "sql_view":  # sql_view's order is part of its answer
                want, got = sorted(want, key=_sort_key), sorted(got, key=_sort_key)
            ok = len(want) == len(got) and all(
                len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
                for a, b in zip(want, got))
            detail = f"rows {len(got)}" if ok else (
                f"rows spark={len(got)} duckdb={len(want)}; first spark={got[:1]} "
                f"duckdb={want[:1]}")
            out.append((name, ok, detail))
        except Exception as e:  # noqa: BLE001
            out.append((name, False, f"{type(e).__name__}: {e}"))
    return out


# ----------------------------------------------------------------- corpus --

def _canon(df):
    """tools/check.py's canonical form: sorted columns and rows, exact types."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda x: str(x) if x is not None else None)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def _frames_equal(a, b):
    if list(a.columns) != list(b.columns):
        return f"columns spark={list(a.columns)} duckdb={list(b.columns)}"
    if len(a) != len(b):
        return f"rows spark={len(a)} duckdb={len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) and pd.api.types.is_float_dtype(y):
            eq = (x.values == y.values) | (x.isna().values & y.isna().values)
        else:
            eq = (x.astype(str).fillna("") == y.astype(str).fillna("")).values
        if not eq.all():
            i = int(np.argmin(eq))
            return f"{c}[row {i}]: spark={x.iloc[i]!r} duckdb={y.iloc[i]!r}"
    return None


def check_corpus(v, rows):
    """Each row's answer equals its registered oracle SQL run by DuckDB on
    the generated corpus (the tools/check.py comparison)."""
    out = []
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{_q(v['corpus_dir'])}/{t}.parquet')")
    for row in rows:
        sql = v["oracle_sql"].get(row)
        if sql is None:
            out.append((f"row {row}", False, "no oracle SQL registered"))
            continue
        try:
            got = _canon(pd.read_parquet(f"{v['answers_dir']}/{row}"))
            want = _canon(con.execute(sql).df())
            bad = _frames_equal(got, want)
            out.append((f"row {row}", bad is None, bad or f"rows {len(got)}"))
        except Exception as e:  # noqa: BLE001
            out.append((f"row {row}", False, f"{type(e).__name__}: {str(e)[:300]}"))
    return out
