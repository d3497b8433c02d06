"""The benchmark's workloads.

Each workload is a closed loop with one client: ``prepare`` makes the
next request's input outside the timed window, ``request`` is the timed
unit of work, and ``verify``/``final_check`` check outputs outside the
timed window. ``stage`` is the input staging of one set-up; it runs in a
fresh Spark session each time.

* ``enrich_stream`` replays time-sorted events as ~1000-row micro-batches
  through ``streaming.ops.clickstream_enrich_stream``: the streaming
  engine's fixed per-batch phases and its join and dedup state stores.
* ``corpus_batch`` runs one round of the corpus slots q40, q62, q64 and
  q65 against a fresh corpus directory, so every call pays its memoized
  build, the program's own table load included: slot builders,
  Catalyst/AQE, shuffles and the ``operators.cache`` persist lifecycle.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from spans import EXEC_DESCRIPTION, count_plan_exchanges


def _utc_ms(stamp: str) -> float:
    """Epoch ms of a streaming progress timestamp such as
    ``2024-01-08T12:00:00.000Z``."""
    t = dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e3


@dataclass
class Outcome:
    rows: int
    result: object = None
    frames: dict = field(default_factory=dict)


class CorpusBatch:
    name = "corpus_batch"
    SLOTS = (
        "q40_dedup_exact_text",
        "q62_pii_scrub",
        "q64_decontaminate",
        "q65_lm_score",
    )

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.docs = gen.documents_table(seed)
        self.base = None
        self.expected = None

    def stage(self, spark, setup: int) -> None:
        """Writes the documents table and reads it back through the
        catalog. Requests read fresh copies under other paths, so this
        load leaves their memo entries cold."""
        from example_kafkastreams_spark.catalog import load_table

        base = os.path.join(self.work, f"setup{setup}")
        self.base = gen.write_table(self.docs, base, "documents")
        with self.tracer.span("catalog.load_table"):
            staged = load_table(spark, base, "documents")
        if staged.columns != self.docs.column_names:
            raise RuntimeError(f"staged documents read back as {staged.columns}")

    def prepare(self):
        """A fresh corpus directory with a seeded name, and a seeded
        slot order, so each call misses every per-directory memo."""
        d = os.path.join(self.work, "corpus", f"c{self.rng.getrandbits(48):012x}")
        os.makedirs(d)
        shutil.copyfile(self.base, os.path.join(d, "documents.parquet"))
        order = list(self.SLOTS)
        self.rng.shuffle(order)
        return d, order

    def request(self, spark, prepared) -> Outcome:
        from pyspark.sql import functions as F

        from example_kafkastreams_spark.operators.cache import release_sketch_caches
        from example_kafkastreams_spark.queries import QUERIES

        sf_dir, order = prepared
        sc = spark.sparkContext
        span = self.tracer.span
        sums, frames = {}, {}
        for name in order:
            with span("queries.build"):
                df = QUERIES[name](spark, sf_dir)
            # Each slot's result is reduced to (rows, sum of row hashes):
            # the whole output is computed and the round can be compared
            # with the first one without collecting it.
            with span("operators.action"):
                sc.setJobDescription(EXEC_DESCRIPTION)
                try:
                    row = df.agg(
                        F.count(F.lit(1)), F.sum(F.hash(*[F.col(c) for c in df.columns]))
                    ).first()
                finally:
                    sc.setJobDescription(None)
            release_sketch_caches()
            sums[name] = (row[0], row[1])
            frames[name] = df
        return Outcome(rows=gen.N_DOCS * len(order), result=sums, frames=frames)

    def verify(self, outcome: Outcome) -> bool:
        if self.expected is None:
            self.expected = outcome.result
        return outcome.result == self.expected

    def trace_request(self, outcome: Outcome) -> dict:
        from example_kafkastreams_spark.plans.checks import count_exchanges

        return {"exchanges": sum(count_exchanges(df) for df in outcome.frames.values())}

    def final_check(self, spark) -> bool:
        return True

    def stop(self) -> None:
        pass


PV_COLUMNS = ("user_id", "pv_event_id", "pv_value", "pv_ts")
LOOKBACK_S = 24 * 3600
BATCHES = 30
DUP_SHARE = 0.02


class EnrichStream:
    name = "enrich_stream"

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.tracer = tracer
        rng = np.random.default_rng(seed + 7)
        self.events = gen.events_table(seed)
        sizes = rng.integers(900, 1101, BATCHES)
        start = int(rng.integers(0, gen.N_EVENTS - int(sizes.sum())))
        self.bounds = np.concatenate([[0], np.cumsum(sizes)]) + start
        self.dup_rng_seed = seed + 11
        self.query = None
        self.landed: list[tuple[pa.Table, pa.Table]] = []

    def stage(self, spark, setup: int) -> None:
        """Reads the events table through the catalog, cuts the seeded
        replay window into micro-batches and starts the streaming query
        on two empty file sources (page views and other events)."""
        from pyspark.sql import functions as F, types as T

        from example_kafkastreams_spark.catalog import load_table
        from example_kafkastreams_spark.schemas import TESTDATA_SCHEMAS
        from example_kafkastreams_spark.streaming.ops import clickstream_enrich_stream
        from example_kafkastreams_spark.streaming.sources import file_stream

        root = os.path.join(self.work, f"setup{setup}")
        sf = os.path.join(root, "sf")
        gen.write_table(self.events, sf, "events")
        with self.tracer.span("catalog.load_table"):
            events = load_table(spark, sf, "events")
        lo, hi = int(self.bounds[0]), int(self.bounds[-1])
        window = (
            events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
            .orderBy("ts", "event_id")
            .toArrow()
        )
        dup_rng = np.random.default_rng(self.dup_rng_seed)
        self.batches = []
        for a, b in zip(self.bounds[:-1], self.bounds[1:]):
            part = window.slice(int(a) - lo, int(b - a))
            is_view = pc.equal(part["event_type"], "view")
            pv = part.filter(is_view).select(["user_id", "event_id", "value", "ts"])
            pv = pv.rename_columns(list(PV_COLUMNS))
            ev = part.filter(pc.invert(is_view))
            # the producer re-sends a few events, as the reference's
            # generator does; the dedup stage must drop them
            dups = dup_rng.choice(ev.num_rows, int(ev.num_rows * DUP_SHARE), replace=False)
            ev = pa.concat_tables([ev, ev.take(np.sort(dups))])
            self.batches.append((pv, ev))
        self.next_batch = 0
        self.batch_seen = -1
        self.landed = []

        self.pv_dir = os.path.join(root, "pv")
        self.ev_dir = os.path.join(root, "ev")
        os.makedirs(self.pv_dir)
        os.makedirs(self.ev_dir)
        pv_schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("pv_event_id", T.LongType()),
                T.StructField("pv_value", T.DoubleType()),
                T.StructField("pv_ts", T.TimestampType()),
            ]
        )
        out = clickstream_enrich_stream(
            file_stream(spark, self.ev_dir, TESTDATA_SCHEMAS["events"]),
            file_stream(spark, self.pv_dir, pv_schema),
            on=["user_id"],
            left_ts="ts",
            right_ts="pv_ts",
            lookback_seconds=LOOKBACK_S,
            dedup_keys=["user_id", "event_id", "pv_event_id"],
            client_key="user_id",
        )
        self.sink = f"enrich_out_{setup}"
        self.query = (
            out.writeStream.format("memory")
            .queryName(self.sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .start()
        )

    def prepare(self):
        """Writes the next micro-batch under hidden names (the file
        source skips names starting with '.'); ``request`` lands them.
        None once the replay window is used up."""
        if self.next_batch >= len(self.batches):
            return None
        pv, ev = self.batches[self.next_batch]
        moves = []
        for table, d in ((pv, self.pv_dir), (ev, self.ev_dir)):
            final = os.path.join(d, f"b{self.next_batch:04d}.parquet")
            hidden = os.path.join(d, f".b{self.next_batch:04d}.parquet")
            pq.write_table(table, hidden)
            moves.append((hidden, final))
        self.next_batch += 1
        return moves, pv, ev

    def request(self, spark, prepared) -> Outcome:
        moves, pv, ev = prepared
        landed_at = time.time()
        for hidden, final in moves:
            os.rename(hidden, final)
        with self.tracer.span("streaming.processAllAvailable"):
            self.query.processAllAvailable()
        self.landed.append((pv, ev))
        return Outcome(rows=pv.num_rows + ev.num_rows, result=landed_at)

    def verify(self, outcome: Outcome) -> bool:
        return True

    def trace_request(self, outcome: Outcome) -> dict:
        """Plan exchanges and the progress reports of the micro-batches
        this request ran."""
        prog = [json.loads(p.json) for p in self.query.recentProgress]
        prog = [p for p in prog if p["batchId"] > self.batch_seen]
        self.batch_seen = max([p["batchId"] for p in prog], default=self.batch_seen)
        data = [p for p in prog if p["numInputRows"] > 0]
        return {
            "exchanges": count_plan_exchanges(self.query._jsq.explainInternal(False)),
            "progress": prog,
            "batches": len(prog),
            "nodata": len(prog) - len(data),
            # from landing until the data batch's trigger had listed the
            # files: its start time plus its offset discovery. The start
            # alone can precede the landing, when the trigger was already
            # running as the files landed.
            "land_to_trigger_ms": (
                _utc_ms(data[0]["timestamp"])
                + data[0]["durationMs"].get("latestOffset", 0)
                - outcome.result * 1e3
                if data
                else 0.0
            ),
        }

    def final_check(self, spark) -> bool:
        """The sink must hold exactly the rows of a reference look-back
        left join over the distinct replayed events, for every event
        the final watermark has finalized, and no (event, page view)
        pair twice."""
        wm_us = int(_utc_ms(self.query.lastProgress["eventTime"]["watermark"])) * 1000
        got = spark.sql(
            f"SELECT user_id, event_id, pv_event_id, unix_micros(ts) AS ts_us"
            f" FROM {self.sink}"
        ).toArrow()
        pv = pa.concat_tables([p for p, _ in self.landed])
        ev = pa.concat_tables([e for _, e in self.landed])
        con = duckdb.connect()
        try:
            con.register("got", got)
            con.register("pv", pv)
            con.register("ev", ev)
            dup = con.execute(
                "SELECT count(*) - count(DISTINCT (event_id, pv_event_id)) FROM got"
            ).fetchone()[0]
            diff = con.execute(
                f"""
                WITH e AS (SELECT DISTINCT user_id, event_id, ts FROM ev),
                ref AS (
                  SELECT e.user_id, e.event_id, p.pv_event_id
                  FROM e LEFT JOIN pv p
                    ON e.user_id = p.user_id
                   AND p.pv_ts >= e.ts - INTERVAL {LOOKBACK_S} SECOND
                   AND p.pv_ts <= e.ts
                  WHERE epoch_us(e.ts) < {wm_us}
                ),
                out AS (
                  SELECT user_id, event_id, pv_event_id FROM got
                  WHERE ts_us < {wm_us}
                )
                SELECT (SELECT count(*) FROM (SELECT * FROM ref EXCEPT ALL SELECT * FROM out))
                     + (SELECT count(*) FROM (SELECT * FROM out EXCEPT ALL SELECT * FROM ref)),
                       (SELECT count(*) FROM ref)
                """
            ).fetchone()
        finally:
            con.close()
        return dup == 0 and diff[0] == 0 and diff[1] > 0

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


WORKLOADS = {w.name: w for w in (EnrichStream, CorpusBatch)}
