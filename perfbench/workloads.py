"""Seeded workload plans: the operations a run executes, in order, each
with the output it must return.

A plan is a list of `Op`; `write_plan` serializes it as the TSV the Scala
client reads. Expected rows use the canonical-cell protocol of the frozen
reference corpus (tools/extract_ref_queries.py `canon_cell`), so one checker
compares every workload's outputs.
"""
import base64
import datetime
import gzip
import os
import random
import re
import sys
from dataclasses import dataclass

# the corpus's canonical cell, so the protocol has one Python definition
sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from extract_ref_queries import canon_cell  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


@dataclass
class Op:
    name: str
    kind: str          # sql | stream | dedup
    arg: str           # SQL text, streaming entry or dedup pipeline
    rows: list = ()     # canonical expected rows
    n_cols: int = 0
    warm: bool = False  # run before timing, to warm the JIT; not counted


def canon_rows(cols, rows):
    """Canonical rows, columns sorted by lower-cased name and rows sorted:
    the protocol of tools/oracle_compare.py."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted("\x01".join(canon_cell(r[i]) for i in order) for r in rows)


def b64_rows(rows):
    if not rows:
        return ""
    return base64.b64encode(gzip.compress("\n".join(rows).encode())).decode()


def write_plan(path, ops):
    with open(path, "w", encoding="utf-8") as f:
        for o in ops:
            arg = (base64.b64encode(o.arg.encode()).decode()
                   if o.kind == "sql" else o.arg)
            f.write("\t".join([o.name, o.kind, arg, str(len(o.rows)), str(o.n_cols),
                               b64_rows(o.rows), "1" if o.warm else "0"]) + "\n")


def read_sql(name):
    """{name: sql} from a perfbench/sql file of `-- name:` blocks."""
    text = open(os.path.join(HERE, "sql", name), encoding="utf-8").read()
    out = {}
    for block in re.split(r"^-- name: ", text, flags=re.M)[1:]:
        head, body = block.split("\n", 1)
        body = "\n".join(l for l in body.split("\n") if not l.startswith("--"))
        out[head.strip()] = body.strip().rstrip(";")
    return out


def parquet(table):
    return os.path.join(DATA, "sf0.1", f"{table}.parquet")


def duck():
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{parquet(t)}')")
    return con


def salted_documents(con, salt):
    """Makes `documents` the fixture's documents with every word prefixed
    by s<salt>x: the expression the client salts its corpus with."""
    con.execute(f"""CREATE OR REPLACE VIEW documents AS
        SELECT doc_id, regexp_replace(text, '(^| )', '\\1s{salt}x', 'g') AS text
        FROM read_parquet('{parquet("documents")}')""")


def oracle_op(con, name, kind, arg, oracle_sql):
    rel = con.execute(oracle_sql)
    cols = [d[0] for d in rel.description]
    rows = canon_rows(cols, rel.fetchall())
    return Op(name, kind, arg, rows=rows, n_cols=len(cols))


# ---- olap_sql

def olap_params(rng):
    cutoff = datetime.date(1998, 12, 1) - datetime.timedelta(days=rng.randint(60, 120))
    year = rng.randint(1995, 2000)
    month = rng.randint(1, 12 * 6 - 1)  # 1995-02 .. 2000-12
    start = datetime.date(1995 + month // 12, month % 12 + 1, 1)
    end_m = month + 3
    end = datetime.date(1995 + end_m // 12, end_m % 12 + 1, 1)
    discount = rng.randint(2, 9) / 100
    return {
        "CUTOFF": cutoff.isoformat(),
        "SEGMENT": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                               "HOUSEHOLD", "MACHINERY"]),
        "DAY": f"{rng.randint(1, 31):02d}",
        "REGION": rng.choice(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]),
        "YEAR": str(year), "NEXT_YEAR": str(year + 1),
        "DISCOUNT_LO": f"{discount - 0.01:.2f}",
        "DISCOUNT_HI": f"{discount + 0.01:.2f}",
        "QUANTITY": str(rng.randint(24, 25)),
        "START": start.isoformat(), "END": end.isoformat(),
        "MONTH": str(rng.randint(1, 12)),
    }


def warm_up(ops, names):
    """Copies of the named operations, run untimed before the pass: a fresh
    JVM compiles Spark's hot paths during its first operations, and
    without this the seeded order decides which operation pays for it."""
    return [Op(**dict(o.__dict__, warm=True)) for o in ops if o.name in names]


def olap_sql(rng, salt):
    params = olap_params(rng)
    con = duck()
    ops = []
    for name, template in read_sql("olap_sql.sql").items():
        sql = re.sub(r"\{([A-Z_]+)\}", lambda m: params[m.group(1)], template)
        ops.append(oracle_op(con, name, "sql", sql, sql))
    rng.shuffle(ops)
    return warm_up(ops, {o.name for o in ops}) + ops


# ---- stream_dedup

EXACT_PAIRS = os.path.join(DATA, "documents_exact_pairs.tsv")
PAIR_COLS = ["id1", "id2", "jaccard"]


def write_exact_pairs():
    """Writes d02's pair set (perfbench/sql/dedup.sql) over the unsalted
    fixture; every salt gives the same set."""
    rows = duck().execute(read_sql("dedup.sql")["d02x_minhash"]).fetchall()
    with open(EXACT_PAIRS, "w") as f:
        f.writelines(f"{a}\t{b}\t{j!r}\n" for a, b, j in rows)


def dedup_ops(con, salt):
    """The two dedup pipelines, each checked against its brute-force pair
    set: d02's is frozen, d07's is computed here over the salted corpus."""
    with open(EXACT_PAIRS) as f:
        d02 = [(int(a), int(b), float(j)) for a, b, j in (l.split("\t") for l in f)]
    salted_documents(con, salt)
    return [Op("d02x_minhash", "dedup", "d02x_minhash",
               rows=canon_rows(PAIR_COLS, d02), n_cols=3),
            oracle_op(con, "d07x_embedding", "dedup", "d07x_embedding",
                      read_sql("dedup.sql")["d07x_embedding"])]


def stream_dedup(rng, salt):
    con = duck()
    ops = [oracle_op(con, name, "stream", name, sql)
           for name, sql in read_sql("stream_events.sql").items()]
    ops += dedup_ops(con, salt)
    rng.shuffle(ops)
    return warm_up(ops, {"st01_tumbling_window", "st03_session_window",
                         "st04_sliding_window", "d02x_minhash"}) + ops


WORKLOADS = {"olap_sql": olap_sql, "stream_dedup": stream_dedup}


def make(workload, seed):
    """(ops, salt) for one run."""
    rng = random.Random(f"{workload}:{seed}")
    salt = str(rng.randrange(10 ** 6))
    return WORKLOADS[workload](rng, salt), salt


if __name__ == "__main__":
    if sys.argv[1:] != ["--write-exact-pairs"]:
        sys.exit("usage: python3 perfbench/workloads.py --write-exact-pairs")
    write_exact_pairs()
