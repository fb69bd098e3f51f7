"""The ``keyed_s3`` workload: a KeyedTable (16 buckets) over SigV4-
signed HTTP to the in-process S3 emulator, loaded through the
DummyToSpanner template and then driven by a seeded stream that
interleaves every mutation and read path of the table.

Every read is compared with an in-memory model that replays the same
stream (``Model``); the run ends with a full-table comparison. The
model is seeded from one read of the freshly loaded table, after
checking that the load holds exactly the generated key range.
"""

from __future__ import annotations

import copy
import io
import random
from datetime import datetime, timezone

from harness import CheckFailed, Op

N_BUCKETS = 16
#: Rows loaded by the generator template, rows of one bulk upsert, one
#: narrow upsert, one delete and one CDC batch.
LOAD_ROWS = 4000
BULK_ROWS = 1000
NARROW_ROWS = 16
DELETE_ROWS = 24
CDC_ROWS = 48
#: Versions kept by the maintenance vacuum: more than one cycle
#: commits, so the as-of bound taken at the start of a cycle survives.
KEEP_VERSIONS = 10
CREDS = ("AKIDPERFBENCH", "perfbench/secret/key/for/the/emulator")
SCHEME = "s3pb"
KINDS = ("upsert_narrow", "upsert_bulk", "delete", "cdc", "scan",
         "point_read", "asof_read", "maintain")


class Model:
    """The expected table: key -> (v, s, x)."""

    def __init__(self, rows: dict):
        self.rows = dict(rows)

    def upsert(self, batch: list[tuple]) -> None:
        for k, v, s, x in batch:
            self.rows[k] = (v, s, x)

    def delete(self, keys: list[int]) -> None:
        for k in keys:
            del self.rows[k]

    def aggregate(self) -> tuple:
        vals = self.rows.values()
        return (len(self.rows), sum(self.rows), sum(v for v, _, _ in vals if v is not None),
                sum(len(s) for _, s, _ in vals if s is not None),
                min((x for _, _, x in vals if x is not None), default=None),
                max((x for _, _, x in vals if x is not None), default=None))


_AGG_SQL = ("count(1) AS n", "sum(k) AS sk", "sum(v) AS sv",
            "sum(length(s)) AS ls", "min(x) AS mnx", "max(x) AS mxx")


def _agg(df) -> tuple:
    r = df.selectExpr(*_AGG_SQL).collect()[0]
    return (r.n, r.sk or 0, r.sv or 0, r.ls or 0, r.mnx, r.mxx)


class KeyedS3:
    kinds = KINDS
    reads = ("scan", "point_read", "asof_read")
    #: one cycle already takes longer than a run's measuring time
    min_cycles = 1

    def __init__(self, spark, seed: int, work: str, scale: float = 1.0,
                 tracer=None):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.load_rows = max(64, int(LOAD_ROWS * scale))
        self.bulk_rows = max(32, int(BULK_ROWS * scale))
        self._seq = 0
        self._views = 0
        self.emu = None

    # -- set-up -------------------------------------------------------
    def setup(self) -> None:
        from dataflowtemplates_spark import templates
        from dataflowtemplates_spark.operators import fsio
        from dataflowtemplates_spark.operators.mutations import KeyedTable
        from dataflowtemplates_spark.operators.s3http import S3HttpBackend
        from dataflowtemplates_spark.sources.generator import (
            FieldSpec, TableSpec)
        from dataflowtemplates_spark.testing.s3_emulator import S3Emulator

        self.emu = S3Emulator().start()
        self.emu.require_sigv4 = CREDS
        if self.tracer is not None:
            self.tracer.attach_emulator(self.emu)
        fsio.register_object_backend(
            SCHEME, S3HttpBackend(self.emu.endpoint, timeout_s=30.0,
                                  credentials=CREDS))
        self.root = f"{SCHEME}://bench/table"
        self.table = KeyedTable(self.spark, self.root, ["k"],
                                n_buckets=N_BUCKETS)
        spec = TableSpec("kt", self.load_rows, [
            FieldSpec("k", "INT64", is_primary=True, nullable=False),
            FieldSpec("v", "INT64", range=[0, 1000000]),
            FieldSpec("s", "STRING", max_length=24),
            FieldSpec("x", "FLOAT64", range=[0, 1]),
        ])
        templates.generate_to_keyed_table(self.spark, spec, self.table,
                                          seed=str(self.seed))
        loaded = {r.k: (r.v, r.s, r.x)
                  for r in self.table.read().collect()}
        if sorted(loaded) != list(range(self.load_rows)):
            raise CheckFailed("load does not hold the generated key range")
        self.model = Model(loaded)
        self.next_key = self.load_rows
        self._mark_asof()

    def close(self) -> None:
        from dataflowtemplates_spark.operators import fsio
        if self.emu is not None:
            fsio.unregister_object_backend(SCHEME)
            self.emu.stop()
            self.emu = None

    def _mark_asof(self) -> None:
        """Remember the current state as the next as-of read target."""
        self.asof = (datetime.now(timezone.utc).isoformat(),
                     copy.copy(self.model.rows))

    # -- seeded batches -----------------------------------------------
    def _hot_keys(self, n: int) -> list[int]:
        """Distinct live keys, skewed towards small ids (hot rows)."""
        live = sorted(self.model.rows)
        out: set[int] = set()
        while len(out) < min(n, len(live)):
            i = min(int(self.rng.paretovariate(1.2)) - 1, len(live) - 1)
            out.add(live[i] if self.rng.random() < 0.8
                    else self.rng.choice(live))
        return sorted(out)

    def _row(self, k: int) -> tuple:
        self._seq += 1
        return (k, self._seq * 1000 + self.rng.randrange(1000),
                f"r{self._seq}-{self.rng.randrange(10 ** 6)}",
                self.rng.random())

    def _frame(self, rows: list[tuple], extra: str = ""):
        schema = "k bigint, v bigint, s string, x double" + extra
        return self.spark.createDataFrame(rows, schema)

    def _view(self, df) -> str:
        self._views += 1
        name = f"pb_batch_{self._views}"
        df.createOrReplaceTempView(name)
        return name

    # -- operations ---------------------------------------------------
    def _op(self, kind: str) -> Op:
        return getattr(self, f"_op_{kind}")()

    def _expect_applied(self, want: int, apply_to_model):
        def check(result):
            if result.applied != want:
                raise CheckFailed(f"applied {result.applied}, want {want}")
            apply_to_model()
        return check

    def _op_upsert_narrow(self) -> Op:
        rows = [self._row(k) for k in self._hot_keys(NARROW_ROWS)]
        df = self._frame(rows)
        return Op("upsert_narrow",
                  lambda: self.table.apply_mutations(df, "INSERT_OR_UPDATE"),
                  self._expect_applied(len(rows),
                                       lambda: self.model.upsert(rows)))

    def _op_upsert_bulk(self) -> Op:
        from dataflowtemplates_spark import templates
        n_new = self.bulk_rows // 5
        keys = self.rng.sample(sorted(self.model.rows),
                               min(self.bulk_rows - n_new,
                                   len(self.model.rows)))
        keys += range(self.next_key, self.next_key + n_new)
        self.next_key += n_new
        rows = [self._row(k) for k in sorted(keys)]
        query = f"SELECT k, v, s, x FROM {self._view(self._frame(rows))}"
        return Op("upsert_bulk",
                  lambda: templates.query_to_keyed_table(
                      self.spark, query, self.table),
                  self._expect_applied(len(rows),
                                       lambda: self.model.upsert(rows)))

    def _op_delete(self) -> Op:
        from dataflowtemplates_spark import templates
        keys = self.rng.sample(sorted(self.model.rows), DELETE_ROWS)
        view = self._view(self.spark.createDataFrame(
            [(k,) for k in keys], "k bigint"))
        return Op("delete",
                  lambda: templates.query_delete_keyed_table(
                      self.spark, f"SELECT k FROM {view}", self.table),
                  self._expect_applied(len(keys),
                                       lambda: self.model.delete(keys)))

    def _op_cdc(self) -> Op:
        live = sorted(self.model.rows)
        n_ins = CDC_ROWS // 4
        n_del = CDC_ROWS // 4
        picked = self.rng.sample(live, CDC_ROWS - n_ins)
        dels, upds = picked[:n_del], picked[n_del:]
        ins = list(range(self.next_key, self.next_key + n_ins))
        self.next_key += n_ins
        up_rows = [self._row(k) for k in upds + ins]
        events = ([r + ("U", 1) for r in up_rows[:len(upds)]]
                  + [r + ("I", 1) for r in up_rows[len(upds):]]
                  + [(k, None, None, None, "D", 1) for k in dels])
        self.rng.shuffle(events)
        df = self._frame(events, ", _op string, seq int")

        def apply_to_model():
            self.model.upsert(up_rows)
            self.model.delete(dels)
        return Op("cdc",
                  lambda: self.table.apply_changes(df, op_col="_op",
                                                   seq_col="seq"),
                  self._expect_applied(len(events), apply_to_model))

    def _op_scan(self) -> Op:
        def check(got):
            want = self.model.aggregate()
            if got != want:
                raise CheckFailed(f"scan {got} != model {want}")
        return Op("scan", lambda: _agg(self.table.read()), check)

    def _op_point_read(self) -> Op:
        k = self._hot_keys(1)[0]

        def check(rows):
            got = [(r.k, r.v, r.s, r.x) for r in rows]
            want = [(k,) + self.model.rows[k]]
            if got != want:
                raise CheckFailed(f"point read {got} != model {want}")
        return Op("point_read",
                  lambda: self.table.read(
                      predicate=[("k", "==", k)]).collect(),
                  check)

    def _op_asof_read(self) -> Op:
        bound, rows = self.asof

        def check(got):
            want = Model(rows).aggregate()
            if got != want:
                raise CheckFailed(f"as-of read {got} != model {want}")
        return Op("asof_read", lambda: _agg(self.table.read_at(bound)),
                  check)

    def _op_maintain(self) -> Op:
        def run():
            self.table.optimize()
            return self.table.vacuum(keep_last=KEEP_VERSIONS,
                                     truncate_log=True)
        return Op("maintain", run)

    def warmup(self):
        """The commit kinds only: their first runs are the slow ones
        (30-100% above later runs), while the load's read-back already
        warmed the scan path and the other kinds start within about
        10% of their later times."""
        for kind in KINDS[:4]:
            yield self._op(kind)

    def cycle(self):
        """Batches are drawn when an operation is about to run, so each
        one sees the model state its predecessors left; maintenance
        closes every cycle."""
        self._mark_asof()
        for kind in KINDS:
            yield self._op(kind)

    # -- end of run ---------------------------------------------------
    def finish(self) -> list[str]:
        got = {r.k: (r.v, r.s, r.x) for r in self.table.read().collect()}
        problems = []
        if self.tracer is not None:
            self.tracer.space_amp = self.space_amp()
        if got != self.model.rows:
            diff = set(got.items()) ^ set(self.model.rows.items())
            problems.append(f"final table differs from the model in "
                            f"{len(diff)} rows")
        return problems

    def space_amp(self) -> float:
        """Bytes under the table root over the bytes of one parquet
        write of the live rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        prefix = "bench/table/"
        stored = sum(len(b) for key, b in self.emu._objects.items()
                     if key.startswith(prefix))
        ks = sorted(self.model.rows)
        cols = list(zip(*(self.model.rows[k] for k in ks)))
        buf = io.BytesIO()
        pq.write_table(pa.table({"k": ks, "v": list(cols[0]),
                                 "s": list(cols[1]), "x": list(cols[2])}),
                       buf)
        return stored / len(buf.getvalue())
