"""Seeded DMS-style CDC folder for the cdc_snapshot and cdc_validate
workloads.

Layout under <root>/db/public/<table>/:
  LOAD00000001.parquet, LOAD00000002.parquet   full load (no Op column)
  YYYY/MM/DD/<YYYYMMDD-HHMMSS000>.parquet     CDC files, Op + ingestion ts

The full load is TPC-H (DuckDB's bundled dbgen, deterministic). The seed
drives every change event. Updates go mostly to a hot tenth of the keys;
some files carry insert -> delete -> re-insert of one key. CDC files dated
before the start date are pruned by directory; those of the start day
before its start hour are listed but dropped by modification time.

The generator replays its own events in order (last event wins, a delete
removes the key) over the LOAD files and the files the date window keeps,
and writes that final state as the expected snapshot. For the validate
workload it also writes a drifted source: one table clean, the other with
`changed` altered rows, `only_left` rows the snapshot lacks and
`only_right` snapshot rows removed from the source.
"""
import datetime as dt
import os
import random
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.005                     # TPC-H scale of the full load
DAYS = 12                      # CDC days, the first two before the start
FILE_HOURS = (2, 6, 10, 14, 18, 22)
FIRST_DAY = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
START = FIRST_DAY + dt.timedelta(days=2, hours=12)
EVENTS_PER_FILE = {"lineitem": 150, "orders": 60}
PKS = {"lineitem": ("l_orderkey", "l_linenumber"), "orders": ("o_orderkey",)}
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()

START_DATE = START.strftime("%Y-%m-%dT%H:%M:%SZ")


def _comment(rng):
    return " ".join(rng.choices(WORDS, k=rng.randint(3, 8)))


def _mutate(table, row, cols, rng):
    """A changed copy of `row`: the fields an update of that table touches."""
    r = list(row)
    idx = {c: i for i, c in enumerate(cols)}
    if table == "lineitem":
        q = Decimal(rng.randint(1, 50))
        r[idx["l_quantity"]] = q
        r[idx["l_extendedprice"]] = (q * Decimal(rng.randint(900, 2100))
                                     + Decimal(rng.randint(0, 99)) / 100)
        r[idx["l_linestatus"]] = rng.choice("OF")
        r[idx["l_comment"]] = _comment(rng)
    else:
        r[idx["o_orderstatus"]] = rng.choice("OFP")
        r[idx["o_totalprice"]] = (Decimal(rng.randint(1000, 400000))
                                  + Decimal(rng.randint(0, 99)) / 100)
        r[idx["o_comment"]] = _comment(rng)
    return tuple(r)


def _write(path, schema, rows):
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
        schema=schema)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _key(table, row):
    if table == "lineitem":
        return row[0], row[3]       # l_orderkey, l_linenumber
    return row[0],                  # o_orderkey


def _table(con, root, table, rng):
    arrow = con.execute(
        f"SELECT * FROM {table} ORDER BY {', '.join(PKS[table])}").arrow()
    base_schema = arrow.schema
    cols = base_schema.names
    rows = list(zip(*(c.to_pylist() for c in arrow.columns)))
    tdir = f"{root}/db/public/{table}"
    ts_field = pa.field("_dms_ingestion_timestamp", pa.timestamp("us"))
    cdc_schema = pa.schema([pa.field("Op", pa.string()), ts_field]
                           + list(base_schema))

    load_ts = FIRST_DAY.replace(tzinfo=None) - dt.timedelta(days=1)
    load = arrow.add_column(0, ts_field, pa.array([load_ts] * len(rows),
                                                  ts_field.type))
    half = len(rows) // 2
    os.makedirs(tdir)
    for n, part in enumerate((load.slice(0, half), load.slice(half)), 1):
        pq.write_table(part, f"{tdir}/LOAD{n:08d}.parquet")

    world = {_key(table, r): r for r in rows}
    keys = list(world)                      # every key ever live
    hot = rng.sample(keys, len(keys) // 10)
    next_key = max(k[0] for k in keys) + 1
    deleted = []
    files = []                              # (path, events, kept)

    def new_key():
        nonlocal next_key
        next_key += 1
        return (next_key, 1) if table == "lineitem" else (next_key,)

    def with_key(row, key):
        r = list(row)
        for c, v in zip(PKS[table], key):
            r[cols.index(c)] = v
        return tuple(r)

    def live_key(pool):
        while True:
            k = rng.choice(pool)
            if k in world:
                return k

    for day in range(DAYS):
        for fi, hour in enumerate(FILE_HOURS):
            when = FIRST_DAY + dt.timedelta(days=day, hours=hour)
            events = []
            for _ in range(EVENTS_PER_FILE[table]):
                x = rng.random()
                if x < 0.65:                                  # update
                    k = live_key(hot if rng.random() < 0.8 else keys)
                    ev = ("U", _mutate(table, world[k], cols, rng))
                elif x < 0.80:                                # new key
                    k = new_key()
                    keys.append(k)
                    ev = ("I", with_key(
                        _mutate(table, world[live_key(keys)], cols, rng), k))
                elif x < 0.92:                                # delete
                    k = live_key(keys)
                    ev = ("D", world[k])
                    deleted.append(k)
                elif deleted:                                 # re-insert
                    k = deleted.pop(rng.randrange(len(deleted)))
                    ev = ("I", with_key(
                        _mutate(table, world[live_key(keys)], cols, rng), k))
                else:
                    continue
                events.append(ev)
                _apply(world, ev, table)
            if fi % 2 == 0:          # insert -> delete -> re-insert, one key
                k = new_key()
                keys.append(k)
                tmpl = world[live_key(keys)]
                for ev in (("I", with_key(_mutate(table, tmpl, cols, rng), k)),
                           ("D", with_key(tmpl, k)),
                           ("I", with_key(_mutate(table, tmpl, cols, rng), k))):
                    events.append(ev)
                    _apply(world, ev, table)
            naive = when.replace(tzinfo=None)
            path = (f"{tdir}/{when:%Y/%m/%d}/{when:%Y%m%d-%H%M%S}000.parquet")
            _write(path, cdc_schema,
                   [(op, naive + dt.timedelta(microseconds=i)) + r
                    for i, (op, r) in enumerate(events)])
            mtime = when.timestamp()
            os.utime(path, (mtime, mtime))
            files.append((path, events, when > START))

    # sequential replay of what the date window keeps, in listing order
    state = {_key(table, r): r for r in rows}
    kept = sorted((f for f in files if f[2]), key=lambda f: f[0])
    for _, events, _ in kept:
        for ev in events:
            _apply(state, ev, table)
    return {
        "schema": base_schema, "cols": cols, "state": state,
        "files_total": len(files) + 2, "files_kept": len(kept) + 2,
        "events_kept": len(rows) + sum(len(f[1]) for f in kept),
    }


def _apply(state, ev, table):
    op, row = ev
    k = _key(table, row)
    if op == "D":
        state.pop(k, None)
    else:
        state[k] = row


def generate(root, seed, drift):
    """Write the folder, the expected snapshot and (with `drift`) the
    drifted validate source under `root`; return what the checks need."""
    rng = random.Random(seed)
    con = duckdb.connect()
    con.execute(f"CALL dbgen(sf={SF})")
    info = {"base_dir": f"{root}/db/public", "start_date": START_DATE,
            "expected": f"{root}/expected", "tables": {}}
    for table in ("lineitem", "orders"):
        t = _table(con, root, table, rng)
        rows = [t["state"][k] for k in sorted(t["state"])]
        _write(f"{root}/expected/{table}/part-0.parquet", t["schema"], rows)
        info["tables"][table] = {
            "rows": len(rows), "files_total": t["files_total"],
            "files_kept": t["files_kept"], "events_kept": t["events_kept"],
            "pk": list(PKS[table])}
        if drift:
            info["drift_source"] = f"{root}/drift"
            plant = _drift(table, t, rows, rng) if table == "lineitem" \
                else {"rows": rows, "changed": 0, "only_left": 0,
                      "only_right": 0}
            _write(f"{root}/drift/{table}/part-0.parquet", t["schema"],
                   plant.pop("rows"))
            info["tables"][table]["planted"] = plant
    con.close()
    return info


def _drift(table, t, rows, rng):
    """Source rows for validate: the snapshot's rows with planted drift."""
    cols = t["cols"]
    changed, only_left, only_right = (rng.randint(5, 20), rng.randint(3, 10),
                                      rng.randint(3, 10))
    picks = rng.sample(range(len(rows)), changed + only_right)
    out = list(rows)
    for i in picks[:changed]:
        out[i] = _mutate(table, out[i], cols, rng)
        while out[i] == rows[i]:
            out[i] = _mutate(table, out[i], cols, rng)
    gone = set(picks[changed:])
    out = [r for i, r in enumerate(out) if i not in gone]
    top = max(k[0] for k in t["state"])
    for j in range(only_left):
        r = list(rng.choice(rows))
        r[cols.index(PKS[table][0])] = top + 1 + j
        out.append(tuple(r))
    return {"rows": out, "changed": changed, "only_left": only_left,
            "only_right": only_right}
