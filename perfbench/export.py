"""The ``export`` workload: a seeded source table exported split-by-
column through the three file templates (SpannerToText as JSON,
SpannerToAvro, BigQueryToTFRecord), every output read back with the
engine's readers and compared, split by split, with the source under
that format's lowering.

The expected values are computed here from the generated Python rows,
not from anything the engine returns.
"""

from __future__ import annotations

import base64
import os
import random
import struct
from collections import Counter
from datetime import date, datetime, timedelta
from decimal import Decimal

from harness import CheckFailed, Op, remove_tree
from registry import Queries

#: Rows exported by one operation of each format: about a second per
#: operation on a 4-core host, so that three cycles fit in a run.
ROWS = {"json": 20000, "avro": 3000, "tfrecord": 2500}
SPLITS = ("s0", "s1", "s2", "s3")
COLS = ("id", "i64", "f64", "num", "s", "b", "flag", "d", "ts", "split")
NULL_RATE = 0.05
_EPOCH = datetime(1970, 1, 1)


def generate(seed: int, n: int) -> list[tuple]:
    """``n`` rows with every scalar type of the row model; about 5% of
    the non-key values are null."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

    def maybe(v):
        return None if rng.random() < NULL_RATE else v

    rows = []
    for i in range(n):
        rows.append((
            i,
            maybe(rng.randint(-2 ** 40, 2 ** 40)),
            maybe(rng.uniform(-1e6, 1e6)),
            maybe(Decimal(rng.randint(-10 ** 15, 10 ** 15)).scaleb(-9)),
            maybe("".join(rng.choice(letters)
                          for _ in range(rng.randint(0, 16)))),
            maybe(rng.randbytes(rng.randint(1, 24))),
            maybe(rng.random() < 0.5),
            maybe(date(1990, 1, 1) + timedelta(days=rng.randint(0, 14600))),
            maybe(datetime(2000, 1, 1) + timedelta(
                microseconds=rng.randint(0, 30 * 365 * 86400 * 10 ** 6))),
            SPLITS[min(int(rng.expovariate(1.0)), len(SPLITS) - 1)],
        ))
    return rows


def write_source(rows: list[tuple], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = list(zip(*rows))
    table = pa.table({
        "id": pa.array(cols[0], pa.int64()),
        "i64": pa.array(cols[1], pa.int64()),
        "f64": pa.array(cols[2], pa.float64()),
        "num": pa.array(cols[3], pa.decimal128(38, 9)),
        "s": pa.array(cols[4], pa.string()),
        "b": pa.array(cols[5], pa.binary()),
        "flag": pa.array(cols[6], pa.bool_()),
        "d": pa.array(cols[7], pa.date32()),
        "ts": pa.array(cols[8], pa.timestamp("us", tz="UTC")),
        "split": pa.array(cols[9], pa.string()),
    })
    pq.write_table(table, path)


# -- lowerings: the value each format must carry for a source value ----

def _plain_decimal(v: Decimal) -> str:
    s = format(v, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return s


def _f32(v: float) -> float:
    return struct.unpack("<f", struct.pack("<f", v))[0]


def _epoch_s(ts: datetime) -> int:
    return int((ts - _EPOCH).total_seconds() // 1)


def lower_json(r: tuple) -> tuple:
    i, i64, f64, num, s, b, flag, d, ts, split = r
    return (i, i64, f64,
            None if num is None else _plain_decimal(num), s,
            None if b is None else base64.b64encode(b).decode(),
            flag,
            None if d is None else d.isoformat(),
            None if ts is None else ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            split)


def lower_avro(r: tuple) -> tuple:
    i, i64, f64, num, s, b, flag, d, ts, split = r
    return (i, i64, f64, num, s, b, flag, d,
            None if ts is None else ts.replace(
                microsecond=ts.microsecond // 1000 * 1000),
            split)


def lower_tfrecord(r: tuple) -> tuple:
    i, i64, f64, num, s, b, flag, d, ts, split = r
    return (i, i64,
            None if f64 is None else _f32(f64),
            None if num is None else _f32(float(num)),
            None if s is None else s.encode(),
            b,
            None if flag is None else int(flag),
            None if d is None else d.isoformat().encode(),
            None if ts is None else _epoch_s(ts),
            split.encode())


# -- readers: the engine's readers, plus a protobuf Example decoder -----

def _split_of(path: str) -> str:
    return os.path.basename(os.path.dirname(path))


def read_json(files: list[str]) -> dict[str, Counter]:
    import json
    out: dict[str, Counter] = {}
    for f in files:
        got = out.setdefault(_split_of(f), Counter())
        with open(f) as fh:
            for line in fh:
                rec = json.loads(line)
                if set(rec) != set(COLS):
                    raise CheckFailed(f"{f}: fields {sorted(rec)}")
                got[tuple(rec[c] for c in COLS)] += 1
    return out


def read_avro(files: list[str]) -> dict[str, Counter]:
    from dataflowtemplates_spark.operators.avro_io import read_avro_rows
    out: dict[str, Counter] = {}
    for f in files:
        _, rows = read_avro_rows(f)
        got = out.setdefault(_split_of(f), Counter())
        for rec in rows:
            got[tuple(rec[c] for c in COLS)] += 1
    return out


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _fields(buf: bytes):
    """(field number, wire type, value) of one protobuf message."""
    pos = 0
    while pos < len(buf):
        key, pos = _varint(buf, pos)
        wt = key & 7
        if wt == 2:
            n, pos = _varint(buf, pos)
            yield key >> 3, wt, buf[pos:pos + n]
            pos += n
        elif wt == 0:
            v, pos = _varint(buf, pos)
            yield key >> 3, wt, v
        elif wt == 5:
            yield key >> 3, wt, buf[pos:pos + 4]
            pos += 4
        else:
            raise CheckFailed(f"unexpected wire type {wt}")


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def decode_example(payload: bytes) -> dict:
    """tf.train.Example -> {feature name: first value}."""
    out = {}
    for _, _, features in _fields(payload):
        for _, _, entry in _fields(features):
            name = value = None
            for no, _, v in _fields(entry):
                if no == 1:
                    name = v.decode()
                else:
                    value = v
            for kind, _, body in _fields(value):
                vals = []
                for _, wt, v in _fields(body):
                    if kind == 1:
                        vals.append(bytes(v))
                    elif kind == 2:
                        vals.extend(struct.unpack(f"<{len(v) // 4}f", v))
                    elif wt == 2:
                        pos = 0
                        while pos < len(v):
                            x, pos = _varint(v, pos)
                            vals.append(_signed64(x))
                    else:
                        vals.append(_signed64(v))
                if len(vals) != 1:
                    raise CheckFailed(f"feature {name}: {len(vals)} values")
                out[name] = vals[0]
    return out


def read_tfrecord(files: list[str]) -> dict[str, Counter]:
    from dataflowtemplates_spark.operators.tfrecord import read_tfrecords
    out: dict[str, Counter] = {}
    for f in files:
        got = out.setdefault(_split_of(f), Counter())
        for payload in read_tfrecords(f):
            ex = decode_example(payload)
            if not set(ex) <= set(COLS):
                raise CheckFailed(f"{f}: features {sorted(ex)}")
            got[tuple(ex.get(c) for c in COLS)] += 1
    return out


FORMATS = {
    "json": (lower_json, read_json),
    "avro": (lower_avro, read_avro),
    "tfrecord": (lower_tfrecord, read_tfrecord),
}


class Export:
    """The three file templates, plus the registry queries as the
    control an encoder change must not move."""

    kinds = tuple(FORMATS) + Queries.kinds
    reads = Queries.kinds
    #: three samples per kind: a median that one slow operation
    #: (a Python worker spawn, a GC) cannot move
    min_cycles = 3

    def __init__(self, spark, seed: int, work: str, scale: float = 1.0,
                 tracer=None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.rows = {k: max(40, int(n * scale)) for k, n in ROWS.items()}
        self._seq = 0
        self.queries = Queries(spark, seed, work, scale)

    def setup(self) -> None:
        self.queries.setup()
        rows = generate(self.seed, max(self.rows.values()))
        src = os.path.join(self.work, "export_src.parquet")
        write_source(rows, src)
        self.spark.read.parquet(src).createOrReplaceTempView("export_src")
        self.expected = {}
        for kind, (lower, _) in FORMATS.items():
            per_split: dict[str, Counter] = {}
            for r in rows[:self.rows[kind]]:
                per_split.setdefault(r[-1], Counter())[lower(r)] += 1
            self.expected[kind] = per_split

    def _op(self, kind: str) -> Op:
        from dataflowtemplates_spark import templates
        if kind in Queries.kinds:
            return self.queries.op(kind, self.tracer)
        self._seq += 1
        out = os.path.join(self.work, "out", f"{kind}-{self._seq}")
        query = f"SELECT * FROM export_src WHERE id < {self.rows[kind]}"
        spark = self.spark

        def run():
            if kind == "json":
                return templates.table_to_text(
                    spark, query, out, fmt="json", split_field="split").files
            if kind == "avro":
                return templates.table_to_columnar(
                    spark, query, out, split_field="split").files
            return templates.query_to_tfrecord(
                spark, query, out, split_field="split")

        def check(files):
            try:
                if self.tracer is not None:
                    self.tracer.note_files(kind, files)
                got = FORMATS[kind][1](files)
                want = self.expected[kind]
                if got != want:
                    bad = sorted(s for s in set(got) | set(want)
                                 if got.get(s) != want.get(s))
                    raise CheckFailed(f"{kind}: splits {bad} differ from "
                                      f"the source")
            finally:
                remove_tree(out)

        return Op(kind, run, check)

    def cycle(self) -> list[Op]:
        return [self._op(k) for k in self.kinds]

    warmup = cycle

    def finish(self) -> list[str]:
        return []
