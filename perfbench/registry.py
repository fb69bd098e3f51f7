"""Registry-query operations: ``q01_pricing_summary`` (pure Catalyst:
scan, filter, aggregate, sort) and ``q61_ann_bruteforce`` (exact cosine
top-k, bound by generated code and the JIT) over seeded tables shaped
like the engine's test data. Each result is compared, as an exact
multiset, with the query's DuckDB oracle from
``queries.all_oracles()`` over the same parquet files.
"""

from __future__ import annotations

import math
import os
import random
from collections import Counter
from datetime import date, datetime, timedelta
from decimal import Decimal

from harness import CheckFailed, Op

QUERIES = {"q01": "q01_pricing_summary", "q61": "q61_ann_bruteforce"}
LINEITEM_ROWS = 30000
EMBEDDING_ROWS = 1500
DIM = 64


def write_tables(seed: int, sf_dir: str, scale: float = 1.0) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n = max(100, int(LINEITEM_ROWS * scale))
    start = datetime(1995, 1, 1)
    li = {
        "l_orderkey": [rng.randrange(n // 4) for _ in range(n)],
        "l_partkey": [rng.randrange(2000) for _ in range(n)],
        "l_suppkey": [rng.randrange(100) for _ in range(n)],
        "l_linenumber": [rng.randint(1, 7) for _ in range(n)],
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(n)],
        "l_extendedprice": [rng.randint(90000, 10000000) / 100
                            for _ in range(n)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n)],
        "l_returnflag": [rng.choice("ARN") for _ in range(n)],
        "l_linestatus": [rng.choice("OF") for _ in range(n)],
        "l_shipdate": [start + timedelta(days=rng.randint(0, 2500))
                       for _ in range(n)],
    }
    schema = pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ])
    pq.write_table(pa.table(li, schema=schema),
                   os.path.join(sf_dir, "lineitem.parquet"))
    m = max(20, int(EMBEDDING_ROWS * scale))
    emb = pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array([[rng.gauss(0, 0.2) for _ in range(DIM)]
                               for _ in range(m)],
                              pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(8) for _ in range(m)], pa.int32()),
    })
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))


def canon(v) -> str:
    """Engine-independent rendering of one value; floats by their
    shortest round-trip repr, so equal strings mean equal bits."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def multiset(rows, columns: list[str]) -> Counter:
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return Counter("|".join(canon(r[i]) for i in order) for r in rows)


class Queries:
    """Operation factory for the registry queries over one seeded
    scale-factor directory."""

    kinds = tuple(QUERIES)

    def __init__(self, spark, seed: int, work: str, scale: float = 1.0):
        self.spark = spark
        self.sf_dir = os.path.join(work, "sf")
        self.seed = seed
        self.scale = scale

    def setup(self) -> None:
        import duckdb

        from dataflowtemplates_spark.queries import all_oracles, all_queries
        write_tables(self.seed, self.sf_dir, self.scale)
        registry, oracles = all_queries(), all_oracles()
        self.fns = {k: registry[name] for k, name in QUERIES.items()}
        con = duckdb.connect()
        try:
            for t in ("lineitem", "embeddings"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS "
                            f"SELECT * FROM read_parquet('{path}')")
            self.expected = {}
            for k, name in QUERIES.items():
                rel = con.sql(oracles[name])
                self.expected[k] = (
                    sorted(c.lower() for c in rel.columns),
                    multiset(rel.fetchall(), list(rel.columns)))
        finally:
            con.close()

    def op(self, kind: str, tracer=None) -> Op:
        fn = self.fns[kind]

        def run():
            if tracer is None:
                df = fn(self.spark, self.sf_dir)
                return df.columns, df.collect()
            with tracer.span("queries.build"):
                df = fn(self.spark, self.sf_dir)
            with tracer.span("queries.exec"):
                return df.columns, df.collect()

        def check(out):
            columns, rows = out
            want_cols, want = self.expected[kind]
            if sorted(c.lower() for c in columns) != want_cols:
                raise CheckFailed(f"{kind}: columns {columns}")
            got = multiset([tuple(r) for r in rows], columns)
            if got != want:
                raise CheckFailed(f"{kind}: {sum((got - want).values())} "
                                  f"rows differ from the DuckDB oracle")
        return Op(kind, run, check)
