"""gold_etl: the reference batch pipeline at scale, with writes beside reads.

Inputs (seeded): an all-string events CSV and a series of CDC change
batches (insert / update / delete rows with a per-batch sequence), all
as CSV files, the way landed files arrive. The closed loop repeats a
walk: one

- refresh: ``sources.read_csv`` → ``plans.pipeline.transform_events``
  → ``filter_gold`` → ``sinks.versioned_write`` of the whole CSV,

then, for each change batch in order,

- write:   ``operators.relational.cdc_apply`` → ``merge_upsert`` →
  ``filter_gold`` → ``versioned_write`` of that batch onto the table
  the earlier merges of the walk left, followed by
- read:    ``versioned_read`` + a filtered aggregate, and
- lookup:  ``versioned_read`` + a single-key point query.

Every result is checked after the window against a DuckDB replay of
the same seeded CSVs and changelog.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench.harness import Bench, dir_stats, log
from perfbench.metrics import bytes_per_input_byte, median

BASE_ROWS = 100_000
BATCHES = 3
BATCH_ROWS = 2_000
USERS = 50_000
TYPES = np.array(["click", "view", "purchase", "signup", "error_click", "refund"])
RAW_COLS = "event_id,ts,user_id,event_type,value,props"


# -- seeded inputs ----------------------------------------------------


def _event_lines(rng: np.random.Generator, ids: np.ndarray) -> list[str]:
    n = len(ids)
    day = rng.integers(1, 31, n)
    hour = rng.integers(0, 24, n)
    minute = rng.integers(0, 60, n)
    user = rng.integers(1, USERS + 1, n)
    etype = TYPES[rng.integers(0, len(TYPES), n)]
    cents = rng.integers(0, 100_000, n)
    k = rng.integers(0, 100, n)
    return [
        f'{ids[i]},2024-01-{day[i]:02d} {hour[i]:02d}:{minute[i]:02d}:00,{user[i]},'
        f'{etype[i]},{cents[i] // 100}.{cents[i] % 100:02d},"{{""k"": {k[i]}}}"'
        for i in range(n)
    ]


def write_base(path: str, rng: np.random.Generator, rows: int) -> None:
    lines = _event_lines(rng, np.arange(1, rows + 1))
    with open(path, "w") as fh:
        fh.write(RAW_COLS + "\n")
        fh.write("\n".join(lines) + "\n")


def write_batch(path: str, rng: np.random.Generator, base_rows: int, batch_no: int,
                rows: int) -> None:
    """One changelog batch: updates and deletes of existing keys, inserts
    of new keys, and some keys changed twice so the sequence order
    matters. ``seq`` is zero-padded: the CSV is all-string, so the
    per-key ordering is lexicographic."""
    n_ins = rows * 2 // 5
    n_old = rows - n_ins
    old = rng.integers(1, base_rows + 1, n_old)
    old[: n_old // 10] = old[n_old // 10 : 2 * (n_old // 10)]  # repeated keys
    new = base_rows + 1 + batch_no * rows + np.arange(n_ins)
    keys = np.concatenate([old, new])
    rng.shuffle(keys)
    ops = np.where(np.isin(keys, new), "I", np.where(rng.random(rows) < 0.3, "D", "U"))
    lines = _event_lines(rng, keys)
    with open(path, "w") as fh:
        fh.write(RAW_COLS + ",op,seq\n")
        for seq, (line, op) in enumerate(zip(lines, ops, strict=True)):
            fh.write(f"{line},{op},{seq:07d}\n")


# -- DuckDB replay oracle ---------------------------------------------

_TRANSFORM = """
SELECT CAST(event_id AS BIGINT) AS event_id, ts AS event_ts,
       CAST(user_id AS BIGINT) AS user_id, cat AS event_category,
       CASE WHEN contains(lower(cat), 'click') THEN 'Interaction' ELSE 'Other' END
           AS interaction_class,
       CAST(value AS DOUBLE) AS event_value,
       TRY_CAST(trim(split_part(regexp_replace(props, '[{{}}"]', '', 'g'), ':', 2))
                AS INTEGER) AS k_value
FROM (SELECT *, CASE event_type WHEN 'purchase' THEN 'PURCHASE'
                                 WHEN 'signup' THEN 'SIGNUP' ELSE event_type END AS cat
      FROM {src})
"""
_GOLD = """
SELECT * FROM ({t}) WHERE event_ts >= '2024-01-05 00:00:00'
  AND event_ts < '2024-01-25 00:00:00'
  AND event_category IN ('click', 'view', 'PURCHASE', 'SIGNUP')
  AND NOT regexp_matches(event_category, '(?i)error')
"""
READ_SQL = """
SELECT interaction_class, count(*) AS n, sum(k_value) AS k, sum(event_value) AS v
FROM {state} WHERE event_category = 'PURCHASE' AND event_value >= 500
GROUP BY interaction_class ORDER BY interaction_class
"""
SIGNATURE_SQL = """
SELECT event_category, interaction_class, count(*) AS n, sum(event_id) AS ids,
       sum(user_id) AS users, sum(k_value) AS k, sum(event_value) AS v,
       min(event_ts) AS lo, max(event_ts) AS hi
FROM {state} GROUP BY 1, 2 ORDER BY 1, 2
"""


class Replay:
    """Gold table states replayed in DuckDB from the same CSV files the
    benchmark fed to Spark. A state is named by the batches merged onto
    the base since the last refresh, in order."""

    def __init__(self, base_csv: str, batch_csvs: list[str]):
        import duckdb

        self.con = duckdb.connect()
        self.batches = batch_csvs
        src = f"read_csv('{base_csv}', all_varchar=true, header=true)"
        self.con.execute("CREATE TABLE s AS " + _GOLD.format(t=_TRANSFORM.format(src=src)))
        self.tables = {(): "s"}

    def state(self, applied: tuple[int, ...]) -> str:
        if applied not in self.tables:
            prev, i = self.state(applied[:-1]), applied[-1]
            name = f"s{len(self.tables)}"
            src = f"read_csv('{self.batches[i]}', all_varchar=true, header=true)"
            self.con.execute(f"""
                CREATE TEMP TABLE ch AS SELECT * FROM {src};
                CREATE TEMP TABLE live AS SELECT * EXCLUDE (rn) FROM (
                    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY seq DESC) rn
                    FROM ch) WHERE rn = 1 AND op <> 'D';
                CREATE TEMP TABLE dead AS SELECT DISTINCT CAST(event_id AS BIGINT) AS event_id
                    FROM ch WHERE event_id NOT IN (SELECT event_id FROM live);
                CREATE TABLE {name} AS SELECT * FROM ({_GOLD.format(t=f'''
                    SELECT * FROM {prev} WHERE event_id NOT IN
                        (SELECT CAST(event_id AS BIGINT) FROM live)
                    UNION ALL {_TRANSFORM.format(src='live')}''')})
                  WHERE event_id NOT IN (SELECT event_id FROM dead);
                DROP TABLE ch; DROP TABLE live; DROP TABLE dead;
            """)
            self.tables[applied] = name
        return self.tables[applied]

    def query(self, sql: str, applied: tuple[int, ...]) -> list[tuple]:
        return self.con.execute(sql.format(state=self.state(applied))).fetchall()


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want, strict=True):
        for a, b in zip(g, w, strict=True):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or abs(a - b) > 1e-6 * max(1.0, abs(b)):
                    return False
            elif a != b:
                return False
    return True


# -- the workload -----------------------------------------------------


def run(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from spatially_databricks_etl_spark.operators.relational import cdc_apply, merge_upsert
    from spatially_databricks_etl_spark.plans.pipeline import filter_gold, transform_events
    from spatially_databricks_etl_spark.sinks.versioned import versioned_read, versioned_write
    from spatially_databricks_etl_spark.sources.files import read_csv

    spark, tr = b.spark, b.tracer
    rng = np.random.default_rng(b.seed)
    os.makedirs(b.path("in"), exist_ok=True)
    base_csv = b.path("in", "events.csv")
    write_base(base_csv, rng, BASE_ROWS)
    batch_csvs = [b.path("in", f"cdc_{i:03d}.csv") for i in range(BATCHES)]
    for i, p in enumerate(batch_csvs):
        write_batch(p, rng, BASE_ROWS, i, BATCH_ROWS)
    lookup_keys = rng.integers(1, BASE_ROWS + BATCHES * BATCH_ROWS, 10_000)

    def materialize(df):
        """Traced runs cut Spark's laziness at each layer boundary."""
        if tr.active:
            df = df.persist()
            df.count()
        return df

    def note_write(span, table: str, v: int) -> None:
        if span is not None:
            nbytes, nfiles = dir_stats(os.path.join(table, "_snapshots", f"v={v}"))
            span.counts.update(bytes_written=nbytes, files_written=nfiles)

    def refresh(src: str, table: str) -> int:
        with tr.span("sources.read_csv"):
            raw = materialize(read_csv(spark, src))
        with tr.span("plans.transform_filter"):
            gold = materialize(filter_gold(transform_events(raw)))
        with tr.span("sinks.versioned_write") as sp:
            v = versioned_write(gold, table)
        note_write(sp, table, v)
        if tr.active:
            raw.unpersist()
            gold.unpersist()
        return v

    def merge(batch: str, table: str) -> int:
        with tr.span("relational.cdc_apply"):
            changes = read_csv(spark, batch)
            live = materialize(cdc_apply(changes, key_cols=["event_id"], seq_col="seq"))
        with tr.span("relational.merge_upsert"):
            current = versioned_read(spark, table)
            dead = changes.select(F.col("event_id").cast("long").alias("event_id")).join(
                live.select(F.col("event_id").cast("long").alias("event_id")),
                "event_id",
                "left_anti",
            )
            merged = materialize(
                filter_gold(merge_upsert(current, transform_events(live), key_cols=["event_id"]))
                .join(F.broadcast(dead), "event_id", "left_anti")
            )
        with tr.span("sinks.versioned_write") as sp:
            v = versioned_write(merged, table)
        note_write(sp, table, v)
        if tr.active:
            live.unpersist()
            merged.unpersist()
        return v

    def read(table: str) -> list[tuple]:
        with tr.span("sinks.versioned_read"):
            rows = (
                versioned_read(spark, table)
                .filter((F.col("event_category") == "PURCHASE") & (F.col("event_value") >= 500))
                .groupBy("interaction_class")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("k_value").alias("k"),
                     F.sum("event_value").alias("v"))
                .orderBy("interaction_class")
                .collect()
            )
        return [tuple(r) for r in rows]

    def lookup(table: str, key: int) -> list[tuple]:
        with tr.span("sinks.versioned_read"):
            rows = (
                versioned_read(spark, table)
                .filter(F.col("event_id") == int(key))
                .select("event_id", "user_id", "event_category", "event_value", "k_value")
                .collect()
            )
        return [tuple(r) for r in rows]

    table = b.path("gold")
    replay = Replay(base_csv, batch_csvs)
    writes: list[tuple[int, int]] = []  # (bytes written, input bytes) per merge
    # the batches merged since the last refresh, in order
    state = {"applied": ()}
    n_lookup = iter(range(len(lookup_keys)))

    def op_refresh():
        refresh(base_csv, table)
        state["applied"] = ()

    def op_write(i: int):
        v = merge(batch_csvs[i], table)
        state["applied"] += (i,)
        snap = os.path.join(table, "_snapshots", f"v={v}")
        writes.append((dir_stats(snap)[0], os.path.getsize(batch_csvs[i])))

    def op_read():
        m, got = state["applied"], read(table)
        return lambda: _same_rows(got, replay.query(READ_SQL, m))

    def op_lookup():
        m, key = state["applied"], int(lookup_keys[next(n_lookup)])
        got = lookup(table, key)
        sql = ("SELECT event_id, user_id, event_category, event_value, k_value "
               f"FROM {{state}} WHERE event_id = {key}")
        return lambda: _same_rows(got, replay.query(sql, m))

    def schedule():
        # one refresh per walk over the change batches, so each merge
        # builds on the table the previous merges left
        while True:
            yield "refresh", op_refresh
            for i in range(BATCHES):
                yield "write", lambda i=i: op_write(i)
                yield "read", op_read
                yield "lookup", op_lookup

    window = b.closed_loop(schedule, {"refresh", "write", "read", "lookup"})
    log(f"gold_etl window {window:.2f}s, {b.ops.attempted} ops")

    # final snapshot against the replay of the same changelog
    final_m = state["applied"]
    sig = (
        versioned_read(spark, table)
        .groupBy("event_category", "interaction_class")
        .agg(F.count(F.lit(1)), F.sum("event_id"), F.sum("user_id"), F.sum("k_value"),
             F.sum("event_value"), F.min("event_ts"), F.max("event_ts"))
        .orderBy("event_category", "interaction_class")
        .collect()
    )
    b.checks.append(("final", lambda: _same_rows(
        [tuple(r) for r in sig], replay.query(SIGNATURE_SQL, final_m))))

    refresh_s = b.samples("refresh")
    ratio = median([bytes_per_input_byte(w, i) for w, i in writes])
    metrics = {
        "bulk_items_per_s": BASE_ROWS * len(refresh_s) / sum(refresh_s),
        "bytes_written_per_input_byte": ratio,
    }
    if tr.enabled:
        metrics.update(_layers(b))
    return metrics


def _layers(b: Bench) -> dict:
    tr = b.tracer
    tr.collect()
    out = {
        "sources.read_csv.s": tr.med("sources.read_csv", "self_s"),
        "sources.read_csv.input_bytes": tr.med("sources.read_csv", "input_bytes"),
        "plans.transform_filter.s": tr.med("plans.transform_filter", "self_s"),
        "plans.transform_filter.jobs": tr.med("plans.transform_filter", "jobs"),
        "relational.cdc_apply.s": tr.med("relational.cdc_apply", "self_s"),
        "relational.merge_upsert.s": tr.med("relational.merge_upsert", "self_s"),
    }
    rc = tr.named("sources.read_csv")
    out["sources.read_csv.rows_per_s"] = median(
        [s.counts["input_records"] / s.counts["self_s"] for s in rc]) if rc else 0.0
    merges = [s for s in tr.spans if s.name in ("relational.cdc_apply", "relational.merge_upsert")]
    by_op: dict[int, list] = {}
    for s in merges:
        by_op.setdefault(s.op, []).append(s)
    out["relational.merge.shuffle_bytes"] = median(
        [sum(s.counts["shuffle_bytes"] for s in v) for v in by_op.values()]) if by_op else 0.0
    out["relational.merge.jobs"] = median(
        [sum(s.counts["jobs"] for s in v) for v in by_op.values()]) if by_op else 0.0
    return out
