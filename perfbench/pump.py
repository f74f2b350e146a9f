"""``pump``: the paper's file-queue pump, driven through
``Pipeline.run_available``.

One pass drains the seeded drop-box into a fresh ParquetMergeSink, one
file per ``run_available`` call (a closed loop: the next file is dropped
when the previous call returned). A step is one file: typed CSV load,
in-file PK dedupe, MERGE upsert, audit append and the descriptive / mode /
hourly-resample stats refresh over the growing table. The job is the one
in ``tests/test_pipeline.py``.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import gen
import refs
from harness import median, pinned_rdds

N_FILES = 2
ROWS = 1000
WARM_FILES = 3
RESOURCE = "air-quality"
JOB = {
    "InputFile": "",
    "TargetOrg": "etl-bench",
    "TargetPackage": "iot-bench",
    "TargetResource": RESOURCE,
    "PrimaryKey": "DateTime,Sensor_id",
    "Dedupe": "last",
    "Truncate": False,
    "Stats": [
        {"Kind": "descriptive"},
        {"Kind": "mode"},
        {"Kind": "H", "GroupBy": "Sensor_id", "DropColumns": "LAT,LONG"},
    ],
}
STAT_KIND = {f"{RESOURCE}-stats": "describe", f"{RESOURCE}-mode": "mode",
             f"{RESOURCE}-H": "resample"}


def generate(ctx) -> None:
    ctx.inputs["files"] = gen.iot_dropbox(ctx.work / "in", ctx.seed,
                                          N_FILES, ROWS)
    # same shape, other seed; WARM_FILES - 1 of its upserts take the MERGE
    # path
    ctx.inputs["warm"] = gen.iot_dropbox(ctx.work / "warm_in",
                                         ctx.seed + 7919, WARM_FILES, ROWS)
    ctx.rows_per_pass = N_FILES * ROWS
    ctx.sinks = []


def _drain(ctx, files: list[Path], tag: str, rec: dict | None = None):
    from datapump_spark.jobspec import JobSpec
    from datapump_spark.sinks.upsert import ParquetMergeSink
    from datapump_spark.streaming.pipeline import Pipeline

    d = ctx.work / tag
    inbox = d / "inbox"
    inbox.mkdir(parents=True)
    sink = ParquetMergeSink(d / "lake")
    job = JobSpec.from_dict({**JOB, "InputFile": str(inbox / "*.csv")})
    pipe = Pipeline(ctx.spark, job, sink, d / "processed", d / "problems")
    tr = ctx.tracer
    prev_inodes: set[int] = set()
    for f in files:
        shutil.copy2(f, inbox / f.name)
        t = time.perf_counter()
        with tr.span("streaming.pipeline.step", jobs=True):
            res = pipe.run_available()
        dt = time.perf_counter() - t
        if rec is None:
            continue
        rec["steps"].append(dt)
        rec["ok"].append(len(res.processed) == 1 and not res.quarantined)
        if tr.enabled:
            ctx.pinned = max(ctx.pinned, pinned_rdds(ctx.spark.sparkContext))
            prev_inodes = _write_amplification(ctx, sink, f, prev_inodes)
    return sink


def _write_amplification(ctx, sink, csv: Path, prev: set[int]) -> set[int]:
    """Read the resource table's new version after an upsert: bucket files
    whose inode the previous version did not have were rewritten, the
    rest were hardlinked forward."""
    import pyarrow.parquet as pq

    vdir = sink.current_version(RESOURCE)
    files = list(vdir.glob("pk_bucket=*/*.parquet"))
    inodes = {p.stat().st_ino for p in files}
    new = [p for p in files if p.stat().st_ino not in prev]
    buckets = {p.parent.name for p in files}
    w = ctx.write_amp
    w["buckets"] += len(buckets)
    w["rewritten"] += len({p.parent.name for p in new})
    w["rows_out"] += sum(pq.ParquetFile(p).metadata.num_rows for p in new)
    w["rows_in"] += ROWS
    w["bytes_out"] += sum(p.stat().st_size for p in new)
    w["bytes_in"] += csv.stat().st_size
    return inodes


def warm(ctx) -> None:
    """WARM_FILES files through the whole pipeline (untimed)."""
    _drain(ctx, ctx.inputs["warm"], "warm")


def run(ctx) -> None:
    if ctx.trace:
        _instrument(ctx)
        ctx.pinned = 0
        ctx.write_amp = dict.fromkeys(("buckets", "rewritten", "rows_out",
                                       "rows_in", "bytes_out", "bytes_in"), 0)

    def one_pass(k, rec):
        ctx.sinks.append(_drain(ctx, ctx.inputs["files"], f"pass{k}", rec))

    ctx.run_passes(one_pass)


def _instrument(ctx) -> None:
    """Spans around the calls the pipeline makes into each layer, bound
    where ``streaming.pipeline`` looks them up."""
    from datapump_spark.sinks.upsert import ParquetMergeSink
    from datapump_spark.streaming import pipeline

    tr = ctx.tracer
    tr.wrap(pipeline.Pipeline, "_load_file", "streaming.pipeline.load")
    tr.wrap(pipeline, "read_csv_raw", "sources.csv_ingest.read_csv_raw",
            jobs=False)
    tr.wrap(ParquetMergeSink, "upsert", "sinks.upsert.upsert")
    tr.wrap(ParquetMergeSink, "append", "sinks.append.audit")
    # a stat's span covers the operator call (plan build) and the
    # overwrite of its table that executes it
    for fn, kind in (("describe_table", "describe"),
                     ("column_modes", "mode"),
                     ("freq_resample", "resample")):
        tr.wrap(pipeline, fn, f"operators.{kind}.build")
    tr.wrap(ParquetMergeSink, "overwrite",
            lambda self, df, table:
            f"operators.{STAT_KIND.get(table, table)}.write")


def layers(ctx) -> dict:
    tr = ctx.tracer
    files = sum(len(r["steps"]) for r in ctx.traced())
    out = tr.spark_totals(*ctx.traced()[0]["spans"])
    out["cachescope.pinned_rdds"] = ctx.pinned
    out["streaming.pipeline.load_s"] = median(
        tr.durations("streaming.pipeline.load"))
    out["sources.csv_ingest.read_calls_per_file"] = len(
        tr.named("sources.csv_ingest.read_csv_raw")) / files
    out["sinks.upsert.upsert_s"] = median(tr.durations("sinks.upsert.upsert"))
    out["sinks.upsert.jobs"] = tr.total("sinks.upsert.upsert", "jobs") / files
    w = ctx.write_amp
    out["sinks.upsert.buckets_rewritten_share"] = w["rewritten"] / w["buckets"]
    out["sinks.upsert.rows_written_per_row_in"] = w["rows_out"] / w["rows_in"]
    out["sinks.upsert.bytes_written_per_input_byte"] = (
        w["bytes_out"] / w["bytes_in"])
    for kind in ("describe", "mode", "resample"):
        b = tr.durations(f"operators.{kind}.build")
        wr = tr.durations(f"operators.{kind}.write")
        out[f"operators.{kind}.stat_s"] = median(
            [x + y for x, y in zip(b, wr)])
        out[f"operators.{kind}.jobs"] = (
            tr.total(f"operators.{kind}.build", "jobs")
            + tr.total(f"operators.{kind}.write", "jobs")) / files
    out["sinks.append.audit_s"] = median(tr.durations("sinks.append.audit"))
    return out


# ------------------------------------------------------------ correctness

_TYPES = {"DateTime": "TIMESTAMP", "Sensor_id": "VARCHAR",
          "PM25": "DOUBLE", "PM10": "DOUBLE", "AQI": "BIGINT",
          "LAT": "DOUBLE", "LONG": "DOUBLE", "Remarks": "VARCHAR"}


def _reference_sql(files: list[Path]) -> str:
    """The resource table recomputed in DuckDB from the CSVs: leading
    whitespace stripped, empty → NULL, the four timestamp formats, typed,
    then per PK the last row of the newest file wins."""
    from datapump_spark.sources.csv_ingest import duckdb_multi_format_ts_sql

    raw = " UNION ALL ".join(
        f"SELECT *, {i} AS __f, row_number() OVER () AS __r "
        f"FROM read_csv('{f}', header=true, all_varchar=true)"
        for i, f in enumerate(files))
    cols = []
    for c, t in _TYPES.items():
        v = f"nullif(ltrim(\"{c}\"), '')"
        if c == "DateTime":
            cols.append(f"{duckdb_multi_format_ts_sql(v)} AS \"{c}\"")
        elif t == "VARCHAR":
            cols.append(f"{v} AS \"{c}\"")
        else:
            cols.append(f"TRY_CAST({v} AS {t}) AS \"{c}\"")
    return f"""
        SELECT * EXCLUDE (__f, __r, __rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY "DateTime", "Sensor_id"
                                       ORDER BY __f DESC, __r DESC) AS __rn
          FROM (SELECT {", ".join(cols)}, __f, __r FROM ({raw})))
        WHERE __rn = 1"""


def _stats_sql() -> dict[str, str]:
    """describe / mode / hourly resample of table ``ref`` in DuckDB, in the
    shapes the pipeline writes (pandas describe(include='all') rows,
    pandas mode() ranks, groupBy(Sensor_id, hour).mean())."""
    num = ["PM25", "PM10", "AQI", "LAT", "LONG"]
    txt = ["Sensor_id", "Remarks"]
    stats = ["count", "unique", "top", "freq", "mean", "std", "min", "25%",
             "50%", "75%", "max"]
    numeric = {"count": "CAST(count({c}) AS DOUBLE)", "mean": "avg({c})",
               "std": "stddev_samp({c})", "min": "CAST(min({c}) AS DOUBLE)",
               "25%": "quantile_cont({c}, 0.25)",
               "50%": "quantile_cont({c}, 0.5)",
               "75%": "quantile_cont({c}, 0.75)",
               "max": "CAST(max({c}) AS DOUBLE)"}
    text = {"count": "SELECT CAST(sum(cnt) AS VARCHAR) FROM {n}",
            "unique": "SELECT CAST(count(*) AS VARCHAR) FROM {n}",
            "top": "SELECT v FROM {n} ORDER BY cnt DESC, v LIMIT 1",
            "freq": "SELECT CAST(max(cnt) AS VARCHAR) FROM {n}"}
    rows = []
    for s in stats:
        cells = [f"'{s}' AS stat"]
        for c in num:
            e = numeric.get(s)
            cells.append(f"(SELECT CAST({e.format(c=c)} AS VARCHAR) FROM ref)"
                         f" AS \"{c}\"" if e else f"NULL AS \"{c}\"")
        for c in txt:
            e = text.get(s)
            counts = (f"(SELECT \"{c}\" AS v, count(*) AS cnt FROM ref "
                      f"WHERE \"{c}\" IS NOT NULL GROUP BY 1)")
            cells.append(f"({e.format(n=counts)}) AS \"{c}\""
                         if e else f"NULL AS \"{c}\"")
        rows.append("SELECT " + ", ".join(cells))
    describe = " UNION ALL ".join(rows)

    ranked = []
    for c in _TYPES:
        ranked.append(f"""(SELECT CAST(row_number() OVER (ORDER BY v) - 1
                                   AS BIGINT) AS stat, v AS "{c}"
            FROM (SELECT v FROM (SELECT "{c}" AS v, count(*) AS cnt FROM ref
                                 WHERE "{c}" IS NOT NULL GROUP BY 1)
                  QUALIFY cnt = max(cnt) OVER ()))""")
    mode = ranked[0]
    for r in ranked[1:]:
        mode = f"(SELECT * FROM {mode} FULL JOIN {r} USING (stat))"
    mode = f"SELECT * FROM {mode}"

    resample = """SELECT "Sensor_id", date_trunc('hour', "DateTime") AS
                         "DateTime", avg(PM25) AS PM25, avg(PM10) AS PM10,
                         avg(AQI) AS AQI
                  FROM ref GROUP BY 1, 2"""
    return {f"{RESOURCE}-stats": describe, f"{RESOURCE}-mode": mode,
            f"{RESOURCE}-H": resample}


def _sink_sql(sink, table: str) -> str:
    vdir = sink.current_version(table)
    return (f"SELECT * EXCLUDE (pk_bucket) FROM read_parquet('{vdir}/**/*."
            "parquet', hive_partitioning=true)" if table == RESOURCE else
            f"SELECT * FROM read_parquet('{vdir}/**/*.parquet')")


def check(ctx) -> list[str]:
    """Every pass's sink: the resource table and the three stats tables
    against DuckDB recomputations over the generated CSVs, the resource
    schema against the expected CKAN typing, and the audit log."""
    import duckdb

    t = time.perf_counter()
    con = duckdb.connect()
    con.execute("SET threads = 1")       # row_number() OVER () = file order
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE TABLE ref AS {_reference_sql(ctx.inputs['files'])}")
    expect = {RESOURCE: refs.fetch(con, "SELECT * FROM ref")}
    for table, sql in _stats_sql().items():
        expect[table] = refs.fetch(con, sql)
    problems = []
    for k, sink in enumerate(ctx.sinks):
        schema = {r[0]: r[1] for r in con.execute(
            f"DESCRIBE {_sink_sql(sink, RESOURCE)}").fetchall()}
        if schema != _TYPES:
            problems.append(f"pass{k} {RESOURCE} schema {schema}")
        for table, (cols, rows) in expect.items():
            got = refs.fetch(con, _sink_sql(sink, table))
            problems += refs.diff(f"pass{k} {table}", *got, cols, rows)
        audit = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE ok AND error IS NULL)"
            f" FROM ({_sink_sql(sink, '_audit')})").fetchone()
        if audit != (N_FILES, N_FILES):
            problems.append(f"pass{k} audit rows/ok {audit}")
    ctx.info["check_s"] = round(time.perf_counter() - t, 3)
    return problems
