"""The lakehouse workload: a seeded op stream over ``api.TxLogTable``.

Rows come from the corpus ``events`` table, whose ``event_id`` equals the
row index. The runner keeps a model of the table (live key -> value, plus
per-version aggregates) from the same seeded ops and checks every read,
and the final snapshot, against it.
"""

from __future__ import annotations

import math
import os
import random
from collections import defaultdict

import pyarrow as pa

import check

WRITE_OPS = ("append", "upsert_mor", "delete_mor", "commit_replace")
READ_OPS = ("read_snapshot", "read_snapshot_pruned", "read_time_travel")


class Model:
    """Expected table state: live keys with their current ``value``."""

    def __init__(self, events: pa.Table):
        self.events = events
        self.base_value = events["value"].to_pylist()
        self.kind = events["event_type"].to_pylist()
        self.live: dict[int, float] = {}
        self.aggs: dict[int, dict[str, tuple[int, float]]] = {}

    def append(self, lo: int, hi: int) -> None:
        for k in range(lo, hi):
            self.live[k] = self.base_value[k]

    def upsert(self, lo: int, hi: int, delta: float) -> None:
        for k in range(lo, hi):
            self.live[k] = self.base_value[k] + delta

    def delete(self, lo: int, hi: int) -> None:
        for k in range(lo, hi):
            self.live.pop(k, None)

    def commit(self, version: int) -> None:
        acc: dict[str, list[float]] = defaultdict(list)
        for k, v in self.live.items():
            acc[self.kind[k]].append(v)
        self.aggs[version] = {t: (len(vs), math.fsum(vs)) for t, vs in acc.items()}

    def rows(self, lo: int, hi: int) -> pa.Table:
        keys = sorted(k for k in self.live if lo <= k <= hi)
        tbl = self.events.take(pa.array(keys, pa.int64()))
        vals = pa.array([self.live[k] for k in keys], pa.float64())
        return tbl.set_column(tbl.schema.get_field_index("value"), "value", vals)

    def live_bytes(self) -> int:
        return self.rows(0, len(self.base_value)).nbytes


def aggregates_match(got: pa.Table, want: dict[str, tuple[int, float]]) -> bool:
    rows = {r["event_type"]: (r["n"], r["s"]) for r in got.to_pylist()}
    if set(rows) != set(want):
        return False
    for t, (n, s) in want.items():
        gn, gs = rows[t]
        if gn != n or not math.isclose(gs, s, rel_tol=1e-9, abs_tol=1e-6):
            return False
    return True


class Stream:
    """The seeded op stream and its model; one ``cycle`` is one pass."""

    def __init__(self, spark, api, table_dir, events_df, events, cfg, seed):
        self.spark = spark
        self.events_df = events_df
        self.table = api.TxLogTable(table_dir)
        # the operator's compaction policy: with SMALL_FILE_MAX at 0 every
        # pass ends in the compaction maintenance_plan() then advises, so
        # passes stay alike instead of paying for it at seed-dependent times
        self.table.SMALL_FILE_MAX = 0
        self.model = Model(events)
        self.cfg = cfg
        self.rng = random.Random(seed)
        self.cursor = 0
        self.submitted_bytes = 0
        self.versions: list[int] = []
        self.skip_ratio: list[float] = []
        self.n_events = events.num_rows

    # --- ops: each runs one TxLogTable call and returns a callable that,
    # outside the timed interval, updates the model and checks the result ---

    def rebind(self, spark, events_df) -> None:
        """Point the stream at a new session (the table stays on disk)."""
        self.spark = spark
        self.events_df = events_df

    def _range(self, lo: int, hi: int):
        from pyspark.sql import functions as F

        return self.events_df.filter(F.col("event_id").between(lo, hi - 1))

    def _committed(self, version: int, lo: int = 0, hi: int = 0) -> bool:
        self.submitted_bytes += self.model.events.slice(lo, hi - lo).nbytes if hi > lo else 0
        self.versions.append(version)
        self.model.commit(version)
        return True

    def rows(self, key: str) -> int:
        """Row count for a stream op, as a share of the events table."""
        return max(1, int(self.cfg[key] * self.n_events))

    def _key_range(self, n: int) -> tuple[int, int]:
        lo = self.rng.randrange(0, max(1, self.cursor - n))
        return lo, min(lo + n, self.cursor)

    def append(self):
        lo = self.cursor
        hi = min(lo + self.rows("append_frac"), self.n_events)
        if hi <= lo:
            raise RuntimeError("lakehouse stream exhausted the events table")
        v = self.table.commit(self._range(lo, hi), stats_cols=self.cfg["stats_cols"])
        self.cursor = hi

        def verify(con) -> bool:
            self.model.append(lo, hi)
            return self._committed(v, lo, hi)
        return verify

    def upsert_mor(self):
        from pyspark.sql import functions as F

        lo, hi = self._key_range(self.rows("upsert_frac"))
        delta = float(self.rng.randint(1, 9))
        df = self._range(lo, hi).withColumn("value", F.col("value") + F.lit(delta))
        v = self.table.upsert_mor(
            self.spark, df, "event_id", stats_cols=self.cfg["stats_cols"]
        )

        def verify(con) -> bool:
            self.model.upsert(lo, hi, delta)
            return self._committed(v, lo, hi)
        return verify

    def delete_mor(self):
        from pyspark.sql import functions as F

        # start at a live key: delete_mor refuses a predicate matching no rows
        live = list(self.model.live)
        lo = live[self.rng.randrange(len(live))]
        hi = lo + self.rows("delete_frac")
        v = self.table.delete_mor(
            self.spark, F.col("event_id").between(lo, hi - 1), "event_id"
        )

        def verify(con) -> bool:
            self.model.delete(lo, hi)
            return self._committed(v)
        return verify

    def commit_replace(self):
        snap = self.table.read_snapshot(self.spark)
        v = self.table.commit_replace(
            snap, self.table.active_files(), stats_cols=self.cfg["stats_cols"]
        )
        return lambda con: self._committed(v)

    def _agg(self, df):
        from pyspark.sql import functions as F

        return df.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("value").alias("s")
        ).toArrow()

    def read_snapshot(self):
        v = self.versions[-1]
        got = self._agg(self.table.read_snapshot(self.spark))
        return lambda con: aggregates_match(got, self.model.aggs[v])

    def read_time_travel(self):
        v = self.rng.choice(self.versions[:-1] or self.versions)
        got = self._agg(self.table.read_snapshot(self.spark, version=v))
        return lambda con: aggregates_match(got, self.model.aggs[v])

    def read_snapshot_pruned(self):
        lo, hi = self._key_range(self.rows("pruned_read_frac"))
        got = self.table.read_snapshot_pruned(self.spark, "event_id", lo, hi - 1).toArrow()

        def verify(con) -> bool:
            kept, skipped = self.table.prune_files("event_id", lo, hi - 1)
            self.skip_ratio.append(len(skipped) / max(1, len(kept) + len(skipped)))
            return check.digest(con, got) == check.digest(con, self.model.rows(lo, hi - 1))
        return verify

    def final_snapshot_ok(self, con) -> bool:
        got = self.table.read_snapshot(self.spark).toArrow()
        want = self.model.rows(0, self.n_events)
        return check.digest(con, got) == check.digest(con, want)

    def disk_bytes(self) -> int:
        total = 0
        for root, _, files in os.walk(self.table.path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def state(self) -> dict:
        debt = self.table.dv_debt()
        return {"files_active": len(self.table.active_files()), "dv_rows": debt["dv_rows"]}

    def cycle(self) -> list[str]:
        return list(self.cfg["cycle"])

    def needs_compaction(self) -> bool:
        return bool(self.table.maintenance_plan()["compact"])
