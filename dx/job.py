"""DataX-shaped job runner: run a `job.json` as one DataFrame pipeline.

C1/C2 parity (†core/Engine.java + JobContainer lifecycle, SURVEY.md
§2.1): a DataX user's job file — reader → [transformers] → writer with
speed/errorLimit settings — executes as a single declarative Spark
plan. The Reader→Channel→Writer thread machinery has no counterpart
(BASELINE.json:6: that replacement is the point); `speed.channel`
maps to output parallelism, `errorLimit` to the dirty-record check.

Supported plugin names (the capability classes of SURVEY.md §2.2/2.4;
connector breadth beyond these is out of scope §7.5):

- readers: ``filereader`` (csv/text/parquet/orc/json via dx.sources),
  ``streamreader`` (S3 synthetic source: sliceRecordCount rows from
  column specs, constants or deterministic pseudo-random ranges),
  ``rdbmsreader``/``mysqlreader``/... (S1/P3: jdbcUrl → config-mapped
  JDBC scan; without one the same job runs querySql/table against the
  Spark catalog — the P3 pass-through, exercised in tests)
- transformers: ``dx_substr``/``dx_pad``/``dx_replace``/``dx_digest``
  (column-in-place), ``dx_filter`` (row drop). ``dx_groovy`` is
  rejected with guidance (pandas UDFs replace script transforms,
  BASELINE.json:15).
- writers: ``filewriter`` (writeMode append / truncate / nonConflict),
  ``consolewriter`` (debug, W5), ``rdbmswriter``/``mysqlwriter``/...
  (W1 config parity via jdbc_writer_options). All writers honor
  ``preSql``/``postSql`` statement lists (W4) around the write. The
  CDC lake sink is the engine itself (dx.engine / dx.main replay),
  not a job.json plugin.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dx import transforms as TR
from dx.session import observed
from dx.sources import (
    ColumnSpec,
    FileReaderConfig,
    dirty_pred,
    dirty_split,
    read_file,
)

FILTER_OPS = {
    ">": lambda c, v: c > v,
    "<": lambda c, v: c < v,
    "=": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    ">=": lambda c, v: c >= v,
    "<=": lambda c, v: c <= v,
    "like": lambda c, v: c.like(v),
    "not like": lambda c, v: ~c.like(v),
}


def _read(spark: SparkSession, reader: dict) -> DataFrame:
    name = reader["name"]
    p = reader.get("parameter", {})
    if name in ("filereader", "txtfilereader", "hdfsreader"):
        cols = [
            ColumnSpec(
                type=c.get("type", "string"),
                index=c.get("index"),
                name=c.get("name"),
                value=c.get("value"),
                format=c.get("format"),
                alias=c.get("alias"),
            )
            for c in p.get("column", [])
        ]
        cfg = FileReaderConfig(
            path=p["path"],
            file_type=p.get("fileType", "csv"),
            field_delimiter=p.get("fieldDelimiter", ","),
            encoding=p.get("encoding", "utf-8"),
            skip_header=bool(p.get("skipHeader", False)),
            null_format=p.get("nullFormat"),
            columns=cols,
            where=p.get("where"),
        )
        return read_file(spark, cfg)
    if name in ("rdbmsreader", "mysqlreader", "postgresqlreader",
                "oraclereader", "sqlserverreader"):
        # S1/P3/R1: CommonRdbmsReader job shape. With a jdbcUrl this is
        # the config-mapped JDBC scan (needs a reachable database); with
        # none (or catalogMode) the same job runs against the Spark
        # catalog — querySql via spark.sql (P3 pass-through, exercised
        # end-to-end in tests), table via spark.table.
        from dx.sources import jdbc_reader_options, read_query_sql

        conn = (p.get("connection") or [{}])[0]
        query_sql = (conn.get("querySql") or [None])[0]
        jdbc_url = (conn.get("jdbcUrl") or [None])[0]
        table = (conn.get("table") or [None])[0]
        cols = [c for c in p.get("column", []) if isinstance(c, str)]
        if jdbc_url and not p.get("catalogMode"):
            bounds = p.get("splitBounds")
            opts = jdbc_reader_options(
                url=jdbc_url, table=table, query_sql=query_sql,
                columns=cols or None, where=p.get("where"),
                split_pk=p.get("splitPk"),
                split_bounds=tuple(bounds) if bounds else None,
                num_partitions=int(p.get("numPartitions", 1)),
                fetch_size=int(p.get("fetchSize", 2048)),
            )
            return spark.read.format("jdbc").options(**opts).load()
        if query_sql:
            return read_query_sql(spark, query_sql)
        df = spark.table(table)
        if p.get("where"):
            df = df.filter(p["where"])
        if cols and cols != ["*"]:
            df = df.select(*cols)
        return df
    if name == "streamreader":
        n = int(p.get("sliceRecordCount", 100))
        df = spark.range(n)
        sel = []
        for i, c in enumerate(p.get("column", [])):
            t = c.get("type", "string")
            if "value" in c:
                sel.append(F.lit(c["value"]).try_cast(t).alias(f"c{i}"))
            elif "random" in c:  # "min,max" — deterministic pseudo-random
                lo, hi = (int(x) for x in str(c["random"]).split(","))
                sel.append(
                    (F.pmod(F.hash(F.col("id") + i), F.lit(hi - lo + 1)) + lo)
                    .try_cast(t).alias(f"c{i}")
                )
            else:
                sel.append(F.col("id").try_cast(t).alias(f"c{i}"))
        return df.select(*sel) if sel else df
    raise ValueError(f"unsupported reader: {name}")


def _transform(df: DataFrame, spec: dict) -> DataFrame:
    name = spec["name"]
    p = spec.get("parameter", {})
    idx = int(p.get("columnIndex", 0))
    paras = [str(x) for x in p.get("paras", [])]
    col_name = df.columns[idx]
    c = F.col(col_name)
    if name == "dx_groovy":
        raise ValueError(
            "dx_groovy is not supported: script transforms are replaced by "
            "vectorized column functions / pandas UDFs — register one in "
            "dx/transforms.py TRANSFORMS and reference it as "
            '{"name": "dx_registry", "parameter": {"fn": "<name>", ...}}'
        )
    if name == "dx_registry":
        # P9 migration target: any single-column function registered in
        # the TRANSFORMS registry (built-in Column exprs or pandas
        # UDFs — e.g. normalize_content, content_sha) applied in place.
        fn = p.get("fn")
        if fn not in TR.TRANSFORMS:
            raise ValueError(
                f"unknown registry transform {fn!r}; available: "
                f"{sorted(TR.TRANSFORMS)}"
            )
        typed = [int(x) if x.lstrip("-").isdigit() else x for x in paras]
        return df.withColumn(col_name, TR.TRANSFORMS[fn](c, *typed))
    if name == "dx_filter":
        op, val = paras[0], paras[1]
        pred = FILTER_OPS[op](c.cast("string") if op.endswith("like") else c, val)
        return df.filter(~pred)  # DataX semantics: matching records are DROPPED
    if name == "dx_substr":
        out = TR.dx_substr(c, int(paras[0]), int(paras[1]))
    elif name == "dx_pad":
        out = TR.dx_pad(c, paras[0], int(paras[1]), paras[2])
    elif name == "dx_replace":
        out = TR.dx_replace(c, int(paras[0]), int(paras[1]), paras[2])
    elif name == "dx_digest":
        out = TR.dx_digest(c, paras[0] if paras else "md5")
    else:
        raise ValueError(f"unknown transformer: {name}")
    return df.withColumn(col_name, out)


def _sql_hooks(spark: SparkSession, stmts: list[str] | None) -> None:
    """W4 preSql/postSql: statements run around the write — against
    the Spark catalog here (views/tables; the truncate-before-load /
    analyze-after idiom); on a JDBC target the same list belongs in
    the writer's session against the database."""
    for s in stmts or []:
        spark.sql(s)


def _write(df: DataFrame, writer: dict) -> None:
    name = writer["name"]
    p = writer.get("parameter", {})
    if name in ("rdbmswriter", "mysqlwriter", "postgresqlwriter",
                "oraclewriter", "sqlserverwriter"):
        # W1: config-level parity (no database in this sandbox). The
        # option mapping itself is unit-tested; executing needs a DB.
        from dx.sources import jdbc_writer_options

        conn = (p.get("connection") or [{}])[0]
        plan = jdbc_writer_options(
            url=(conn.get("jdbcUrl") or [""])[0],
            table=(conn.get("table") or [""])[0],
            columns=[c for c in p.get("column", []) if isinstance(c, str)],
            write_mode=p.get("writeMode", "insert"),
            batch_size=int(p.get("batchSize", 2048)),
        )
        if plan["mode"] == "upsert":
            raise ValueError(
                f"writeMode {p.get('writeMode')!r} needs the upsert template "
                f"({plan['upsert_sql']}) via foreachPartition, or the lake "
                "MERGE path (dx.engine) — Spark's JDBC writer only INSERTs"
            )
        df.write.format("jdbc").options(**plan["options"]).mode(plan["mode"]).save()
        return
    if name in ("filewriter", "txtfilewriter", "hdfswriter"):
        mode = {
            "append": "append",
            "truncate": "overwrite",
            "nonConflict": "error",
        }[p.get("writeMode", "append")]
        ft = p.get("fileType", "parquet")
        w = df.write.mode(mode)
        if ft == "csv":
            w = w.options(sep=p.get("fieldDelimiter", ","), header="true")
        getattr(w, ft)(p["path"])
        return
    if name in ("consolewriter", "streamwriter"):
        df.show(int(p.get("limit", 20)), truncate=False)
        return
    raise ValueError(f"unsupported writer: {name}")


def _check_error_limit(err_limit: dict, n_dirty: int, total: int) -> None:
    """E1: both upstream ErrorRecordChecker limits — absolute dirty
    count (``errorLimit.record``) and dirty RATIO over all records
    (``errorLimit.percentage``, dirty/(clean+dirty))."""
    limit = err_limit.get("record")
    if limit is not None and n_dirty > int(limit):
        raise RuntimeError(
            f"errorLimit exceeded: {n_dirty} dirty records > {limit}"
        )
    pct = err_limit.get("percentage")
    if pct is not None and total > 0 and n_dirty / total > float(pct):
        raise RuntimeError(
            f"errorLimit exceeded: dirty ratio {n_dirty}/{total} = "
            f"{n_dirty / total:.4f} > {pct}"
        )


def run_job(spark: SparkSession, config: dict) -> dict:
    """Execute a job config; returns DataX-style run stats.

    ONE source scan per job content: record + dirty counts ride the
    write action as an ``Observation`` on the pre-filter frame (the
    dx/lake.py MoR pattern) instead of separate count() passes.
    errorLimit is therefore checked right AFTER the write completes —
    upstream-faithful (DataX's ErrorRecordChecker fires on the running
    job's counters; records already handed to the writer are written,
    there is no rollback) — and a violation still fails the job and
    skips postSql. The console/debug sink (W5) is the one exception:
    show() only pulls a row limit, so it keeps explicit counts.
    """
    from pyspark.sql import Observation

    job = config["job"]
    setting = job.get("setting", {})
    channels = int(setting.get("speed", {}).get("channel", 0))
    err_limit = setting.get("errorLimit", {})
    stats = {"contents": []}
    for content in job["content"]:
        df = _read(spark, content["reader"])
        for t in content.get("transformer", []):
            df = _transform(df, t)
        # C9/E1 dirty-record accounting over required (cast) columns.
        # Output naming must mirror ColumnSpec.expr (alias > name >
        # c{index} > 'const'); constant/value columns cannot fail a
        # cast, so marking one required is a no-op, not an error.
        required = [
            c.get("alias") or c.get("name")
            or (f"c{c['index']}" if c.get("index") is not None else None)
            for c in content["reader"].get("parameter", {}).get("column", [])
            if isinstance(c, dict)  # rdbms readers list plain column names
            and c.get("required") and c.get("value") is None
        ]
        required = [r for r in required if r is not None and r in df.columns]
        console = content["writer"]["name"] in ("consolewriter", "streamwriter")
        wp = content["writer"].get("parameter", {})
        if console:
            n_dirty = 0
            if required:
                df, dirty = dirty_split(df, required)
                n_dirty = dirty.count()
            n = df.count()
            _check_error_limit(err_limit, n_dirty, n + n_dirty)
            if channels:
                df = df.repartition(channels)
            _sql_hooks(spark, wp.get("preSql"))
            _write(df, content["writer"])
            _sql_hooks(spark, wp.get("postSql"))
            stats["contents"].append(
                {"records_written": n, "dirty_records": n_dirty}
            )
            continue
        obs = Observation()
        if required:
            flagged = df.withColumn("__dirty", dirty_pred(required))
            df = (
                flagged.observe(
                    obs,
                    F.count(F.lit(1)).alias("total"),
                    F.sum(F.col("__dirty").cast("long")).alias("dirty"),
                )
                .filter(~F.col("__dirty"))
                .drop("__dirty")
            )
        else:
            df = df.observe(obs, F.count(F.lit(1)).alias("total"))
        if channels:
            df = df.repartition(channels)  # R3: channel count → parallelism
        _sql_hooks(spark, wp.get("preSql"))   # W4: truncate-before-load etc.
        _write(df, content["writer"])
        got = observed(obs)  # resolved by the write action — no extra pass
        total = int(got.get("total") or 0)
        n_dirty = int(got.get("dirty") or 0)
        _check_error_limit(err_limit, n_dirty, total)
        _sql_hooks(spark, wp.get("postSql"))  # W4: analyze-after etc.
        stats["contents"].append(
            {"records_written": total - n_dirty, "dirty_records": n_dirty}
        )
    return stats


def main(argv: list[str] | None = None) -> int:
    import argparse

    from dx.session import get_spark

    ap = argparse.ArgumentParser(prog="dx-job")
    ap.add_argument("--job", required=True, help="path to job.json")
    args = ap.parse_args(argv)
    with open(args.job) as f:
        config = json.load(f)
    spark = get_spark("dx-job")
    stats = run_job(spark, config)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
