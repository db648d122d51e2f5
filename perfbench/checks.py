"""Correctness checks of one run's outputs, each against a computation made
apart from the engine (DuckDB over the generated inputs, or the
generators' own sequential replay). Every check returns a list of
failure messages; an empty list means the outputs are right.
"""
import math

import duckdb


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


# ------------------------------------------------------------ snapshot

def snapshot_dir(con, out, info):
    """The reconstructed tables equal the generator's replay, both ways
    with EXCEPT ALL, and their primary keys are unique."""
    errs = []
    for t, ti in info["tables"].items():
        got = f"read_parquet('{out}/{t}/*.parquet')"
        exp = f"read_parquet('{info['expected']}/{t}/*.parquet')"
        cols = ", ".join(
            r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {exp}").fetchall())
        for a, b, what in ((got, exp, "extra"), (exp, got, "missing")):
            n = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {a} "
                            f"EXCEPT ALL SELECT {cols} FROM {b})").fetchone()[0]
            if n:
                errs.append(f"{out}/{t}: {n} {what} rows vs the replay")
        pk = ", ".join(ti["pk"])
        dup = con.execute(f"SELECT count(*) FROM (SELECT {pk} FROM {got} "
                          f"GROUP BY {pk} HAVING count(*) > 1)").fetchone()[0]
        if dup:
            errs.append(f"{out}/{t}: {dup} duplicate primary keys")
    return errs


def snapshot_lines(lines, info):
    want = {f"[snapshot] {t}: {ti['rows']} rows reconstructed"
            for t, ti in info["tables"].items()}
    return [] if set(lines) == want else [f"snapshot report {lines}"]


def snapshot_counts(layers, info):
    """The traced snapshot kept the files and read the events the
    generator says the date window keeps."""
    kept = sum(t["files_kept"] for t in info["tables"].values())
    events = sum(t["events_kept"] for t in info["tables"].values())
    errs = []
    if layers["sources.files_kept"] != kept:
        errs.append(f"files kept {layers['sources.files_kept']} != {kept}")
    if layers["sources.events"] != events:
        errs.append(f"events {layers['sources.events']} != {events}")
    return errs


# ------------------------------------------------------------ validate

def bad_chunks(con, left, right, pk, chunk):
    """Chunk ids whose PK-ordered rows differ between the two sides."""
    cols = ", ".join(r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{left}/*.parquet')").fetchall())

    def ranked(src):
        rn = f"row_number() OVER (ORDER BY {pk})"
        return (f"SELECT ({rn} - 1) // {chunk} AS c, {rn} AS r, {cols} "
                f"FROM read_parquet('{src}/*.parquet')")
    l, r = ranked(left), ranked(right)
    rows = con.execute(f"SELECT DISTINCT c FROM (({l} EXCEPT ALL {r}) "
                       f"UNION ALL ({r} EXCEPT ALL {l})) ORDER BY c").fetchall()
    return [c for (c,) in rows]


def cdc_validate(result, info, traced):
    con = _con()
    snap = result["setup"]["out"]
    errs = snapshot_lines(result["setup"]["lines"], info)
    errs += snapshot_dir(con, snap, info)
    if traced:
        errs += snapshot_counts(result["setup"], info)
    want = []
    for t, ti in info["tables"].items():
        p = ti["planted"]
        if p["changed"] + p["only_left"] + p["only_right"] == 0:
            want.append(f"[validate] {t}: OK ({ti['rows']} rows)")
            want.append(f"[validate] {t}: digest chunks OK (chunk size 1000)")
        else:
            want.append(f"[validate] {t}: MISMATCH only_left={p['only_left']} "
                        f"only_right={p['only_right']} "
                        f"mismatched={p['changed']}")
            ids = bad_chunks(con, f"{info['drift_source']}/{t}", f"{snap}/{t}",
                             ", ".join(ti["pk"]), 1000)
            want.append(f"[validate] {t}: digest chunks MISMATCH at chunk ids "
                        + ", ".join(map(str, ids)))
    for p in result["warmup"] + result["passes"]:
        if sorted(p["lines"]) != sorted(want):
            errs.append(f"validate report {p['lines']} != {want}")
    return errs


# -------------------------------------------------------------- corpus

def _canon(v):
    # normalisation of dev/compare.py: floats at full precision, NaN named
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _normalize(rel):
    """Columns sorted by name with their types (integer widths folded,
    HUGEINT kept apart), and rows sorted, as dev/compare.py does."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    fold = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}
    types = [("INT" if str(rel.types[i]) in fold else str(rel.types[i]))
             for i in order]
    return ([cols[i] for i in order], types,
            sorted(tuple(_canon(r[i]) for i in order) for r in rel.fetchall()))


def corpus_serve(result, info, traced):
    errs = []
    kept = result["warmup"][0]["digests"]
    for p in result["warmup"][1:] + result["passes"]:
        for q, d in p["digests"].items():
            if d != kept[q]:
                errs.append(f"{q}: a timed pass returned other rows")
    con = _con()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{info['corpus_dir']}/{t}.parquet')")
    res = result["results_dir"]
    for q, sql in sorted(result["oracle"].items()):
        gc, gt, gr = _normalize(
            con.sql(f"SELECT * FROM read_parquet('{res}/{q}/*.parquet')"))
        ec, et, er = _normalize(con.sql(sql))
        if gc != ec:
            errs.append(f"{q}: columns {gc} vs oracle {ec}")
        elif gt != et or "HUGEINT" in et:
            errs.append(f"{q}: column types {gt} vs oracle {et}")
        elif gr != er:
            errs.append(f"{q}: {len(gr)} rows differ from the oracle's {len(er)}")
        elif not gr:
            errs.append(f"{q}: empty result")
    pairs = {tuple(r) for r in con.execute(
        f"SELECT a_id, b_id FROM read_parquet('{res}/dedup_minhash_lsh/"
        f"*.parquet')").fetchall()}
    missed = [p for p in info["exact_pairs"] if tuple(p) not in pairs]
    if missed:
        errs.append(f"dedup_minhash_lsh misses planted exact pairs {missed[:5]}")
    return errs


CHECKS = {"cdc_validate": cdc_validate, "corpus_serve": corpus_serve}
