"""Schema evolution + cast matrix (SURVEY §2.9) and type-system
round-trips (§1.2).

The reference's only scalar functions are the ~40 read-time casts in
`ConvertTreeReaderFactory.java:401-2100`, applied when reader schema ≠
file schema (`SchemaEvolution.buildConversion:335`). Catalyst
implements the same lattice as `cast`; the hazard cases called out in
SURVEY (string→numeric null-on-error, int→timestamp seconds semantics,
char/varchar length enforcement) are exercised explicitly and mirrored
in the oracle with TRY_CAST / to_timestamp.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from orc_release_hdp_2_6_5_99_1_tag_spark.functions import (
    union_decode,
    union_encode,
    union_tag,
)
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import orc_copy, read_orc, write_orc
from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table, staged


def c1_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: read an ORC file with an evolved reader schema — widened int
    (int→bigint), added column (→ NULL, reference NullTreeReader
    `TreeReaderFactory.java:255-288`), dropped columns (projection).
    Name-based mapping, like `SchemaEvolution.buildConversion`."""
    path = orc_copy(spark, sf_dir, "part")
    reader_schema = (
        "p_partkey bigint, p_size bigint, p_retailprice double, p_comment_added string"
    )
    df = read_orc(spark, path, schema=reader_schema)
    return df.orderBy("p_partkey").select(
        "p_partkey", "p_size", "p_retailprice", "p_comment_added"
    )


C1_ORACLE = """
SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
       CAST(p_size AS BIGINT) AS p_size,
       p_retailprice,
       CAST(NULL AS VARCHAR) AS p_comment_added
FROM part ORDER BY p_partkey
"""


def c2_cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: the full ~40-direction cast lattice over live data
    (reference `ConvertTreeReaderFactory.java:401-2016`):
    int↔{bigint,double,string,decimal,timestamp,boolean}, integer
    narrowing (bigint→smallint, int→tinyint), decimal→{int,double,
    timestamp,rescale,string}, double→{int,string,float},
    float→{string,double}, string↔{int,double,date,timestamp,decimal,
    binary}, timestamp→{date,string,epoch-seconds}, boolean→string,
    plus char/varchar length enforcement. Spark 4 casts are ANSI
    (malformed input errors), so the reference's null-on-error
    conversion semantics map to try_cast — TRY_CAST in the oracle (the
    parity hazard SURVEY §7 flags). Int→timestamp is SECONDS since
    epoch (the reference disables PPD on that conversion because of
    the seconds/millis ambiguity, `RecordReaderImpl.java:750-754`);
    decimal→int truncates toward zero where DuckDB rounds (oracle
    TRUNCs explicitly)."""
    l = load_table(spark, sf_dir, "lineitem")
    base = l.where("l_orderkey <= 200")
    # the 40+-direction select is built as ONE selectExpr (r13: the
    # Column-composed build cost ~0.4s of py4j driver time per
    # execution — see clustering._lit_vec_sql; double literals carry
    # the D suffix so literal types match the old Column build
    # bit-for-bit, and the DuckDB oracle pins every direction's values)
    return base.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "CAST(l_linenumber AS BIGINT) AS i_to_big",
        "CAST(l_linenumber AS DOUBLE) AS i_to_dbl",
        "CAST(l_orderkey AS STRING) AS i_to_str",
        "CAST(CAST(l_quantity AS DECIMAL(10,2)) AS STRING) AS dbl_to_dec_str",
        "CAST(l_discount AS STRING) AS dbl_to_str",
        "CAST(CAST(l_orderkey AS STRING) AS INT) AS str_roundtrip_int",
        "TRY_CAST(l_returnflag AS INT) AS str_to_int_null",
        "CAST(CAST(l_discount AS STRING) AS DOUBLE) AS str_to_dbl",
        "CAST(CAST(l_shipdate AS DATE) AS STRING) AS ts_to_date_str",
        "CAST(CAST(date_format(l_shipdate, 'yyyy-MM-dd') AS DATE) AS STRING) AS str_to_date_str",
        "CAST(l_shipdate AS STRING) AS ts_to_str",
        "CAST(CAST(l_linenumber * 100000 AS TIMESTAMP) AS STRING) AS int_secs_to_ts_str",
        "rpad(substring(l_returnflag, 1, 3), 3, ' ') AS char3",
        "substring(l_linestatus, 1, 1) AS varchar1",
        # decimal->int truncates toward zero (HiveDecimal.longValue());
        # DuckDB's decimal->int ROUNDS, so the oracle TRUNCs explicitly.
        "CAST(CAST(l_quantity + 0.5D AS DECIMAL(10,2)) AS INT) AS dec_to_int",
        "CAST(CAST(l_quantity AS DECIMAL(10,2)) AS DOUBLE) AS dec_to_dbl",
        # decimal->timestamp: seconds since epoch (whole-second values so
        # the fraction rendering cannot diverge between engines)
        "CAST(CAST(CAST(l_quantity AS DECIMAL(10,2)) AS TIMESTAMP) AS STRING) AS dec_to_ts_str",
        # timestamp->int: epoch seconds (reference TimestampConvertTreeReader)
        "CAST(timestamp_seconds(l_orderkey * 1000 + l_linenumber) AS BIGINT) AS ts_to_int_secs",
        "CAST(CAST(l_shipdate AS TIMESTAMP) AS BIGINT) AS date_ts_to_secs",
        # double->int truncation (same TRUNC hazard as decimal->int)
        "CAST(l_extendedprice / 100.0D AS INT) AS dbl_to_int",
        "CAST(CAST(l_linenumber AS DECIMAL(12,3)) AS STRING) AS int_to_dec_str",
        # string<->binary: UTF-8 bytes both ways
        "hex(CAST(l_returnflag AS BINARY)) AS str_to_bin_hex",
        "CAST(CAST(l_linestatus AS BINARY) AS STRING) AS bin_to_str",
        # float->string: shortest round-trip repr of the float32 value
        "CAST(CAST(l_discount AS FLOAT) AS STRING) AS flt_to_str",
        "CAST(CAST(l_tax AS FLOAT) AS DOUBLE) AS flt_to_dbl",
        # bigint->float narrowing
        "CAST(CAST(l_orderkey AS FLOAT) AS STRING) AS big_to_flt_str",
        # boolean lattice: int->boolean (nonzero=true), boolean->string
        "CAST(l_linenumber % 2 AS BOOLEAN) AS int_to_bool",
        "CAST(l_quantity > 25 AS STRING) AS bool_to_str",
        # string->timestamp / string->decimal (null-on-error via try_cast)
        "CAST(TRY_CAST(concat(CAST(l_shipdate AS STRING), ' 00:00:00') AS TIMESTAMP) AS STRING) AS str_to_ts_str",
        "TRY_CAST(l_returnflag AS DECIMAL(10,2)) AS str_to_dec_null",
        # integer narrowing chain (bigint->int->smallint->tinyint)
        "CAST(l_orderkey % 100 AS SMALLINT) AS big_to_small",
        "CAST(l_linenumber AS TINYINT) AS int_to_tiny",
        # decimal rescale (precision/scale widening)
        "CAST(CAST(CAST(l_quantity AS DECIMAL(10,2)) AS DECIMAL(14,4)) AS STRING) AS dec_rescale_str",
        # --- round-3: the exotic tail of the lattice -----------------
        # char/varchar <-> timestamp corners (reference
        # ConvertTreeReaderFactory char/varchar group delegates to the
        # string readers with pad/truncate semantics)
        "CAST(TRY_CAST(rpad(substring(CAST(CAST(l_shipdate AS DATE) AS STRING), 1, 10), 10, ' ') AS DATE) AS STRING) AS char_to_date_str",
        "rpad(substring(CAST(l_shipdate AS STRING), 1, 13), 13, ' ') AS ts_to_char13",
        "CAST(TRY_CAST(substring(concat(CAST(CAST(l_shipdate AS DATE) AS STRING), ' 00:00:00'), 1, 19) AS TIMESTAMP) AS STRING) AS varchar_to_ts_str",
        # char padded numeric -> int (cast trims the pad spaces)
        "TRY_CAST(rpad(substring(CAST(l_linenumber AS STRING), 1, 5), 5, ' ') AS INT) AS char_to_int",
        # boolean -> integer -> string chain (BooleanConvert -> AnyInteger)
        "CAST(CAST(l_quantity > 25 AS INT) AS STRING) AS bool_to_int_str",
        # timestamp -> decimal: epoch seconds with fractional micros
        "CAST(CAST(CAST(unix_micros(timestamp_seconds(l_orderkey)) AS DECIMAL(20,0)) / 1000000 AS DECIMAL(20,6)) AS STRING) AS ts_to_dec_str",
        # double (fractional seconds) -> timestamp
        "date_format(CAST(CAST(l_linenumber AS DOUBLE) * 86400.5D AS TIMESTAMP), 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS dbl_to_ts_str",
        # date -> timestamp (midnight promotion)
        "CAST(CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP) AS STRING) AS date_to_ts_str",
    ).orderBy("l_orderkey", "l_linenumber")


C2_ORACLE = """
SELECT
  l_orderkey,
  l_linenumber,
  CAST(l_linenumber AS BIGINT) AS i_to_big,
  CAST(l_linenumber AS DOUBLE) AS i_to_dbl,
  CAST(l_orderkey AS VARCHAR) AS i_to_str,
  CAST(CAST(l_quantity AS DECIMAL(10,2)) AS VARCHAR) AS dbl_to_dec_str,
  CAST(l_discount AS VARCHAR) AS dbl_to_str,
  CAST(CAST(l_orderkey AS VARCHAR) AS INT) AS str_roundtrip_int,
  TRY_CAST(l_returnflag AS INT) AS str_to_int_null,
  CAST(CAST(l_discount AS VARCHAR) AS DOUBLE) AS str_to_dbl,
  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ts_to_date_str,
  CAST(CAST(strftime(l_shipdate, '%Y-%m-%d') AS DATE) AS VARCHAR) AS str_to_date_str,
  CAST(CAST(l_shipdate AS TIMESTAMP) AS VARCHAR) AS ts_to_str,
  CAST(CAST(to_timestamp(l_linenumber * 100000) AS TIMESTAMP) AS VARCHAR) AS int_secs_to_ts_str,
  rpad(substr(l_returnflag, 1, 3), 3, ' ') AS char3,
  substr(l_linestatus, 1, 1) AS varchar1,
  CAST(TRUNC(CAST(l_quantity + 0.5 AS DECIMAL(10,2))) AS INT) AS dec_to_int,
  CAST(CAST(l_quantity AS DECIMAL(10,2)) AS DOUBLE) AS dec_to_dbl,
  CAST(epoch_ms(CAST(CAST(l_quantity AS DECIMAL(10,2)) * 1000 AS BIGINT)) AS VARCHAR) AS dec_to_ts_str,
  CAST(l_orderkey * 1000 + l_linenumber AS BIGINT) AS ts_to_int_secs,
  CAST(epoch(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT) AS date_ts_to_secs,
  CAST(TRUNC(l_extendedprice / 100.0) AS INT) AS dbl_to_int,
  CAST(CAST(l_linenumber AS DECIMAL(12,3)) AS VARCHAR) AS int_to_dec_str,
  upper(hex(encode(l_returnflag))) AS str_to_bin_hex,
  l_linestatus AS bin_to_str,
  CAST(CAST(l_discount AS REAL) AS VARCHAR) AS flt_to_str,
  CAST(CAST(l_tax AS REAL) AS DOUBLE) AS flt_to_dbl,
  CAST(CAST(l_orderkey AS REAL) AS VARCHAR) AS big_to_flt_str,
  CAST(l_linenumber % 2 AS BOOLEAN) AS int_to_bool,
  CAST(l_quantity > 25 AS VARCHAR) AS bool_to_str,
  CAST(TRY_CAST(CAST(l_shipdate AS VARCHAR) || ' 00:00:00' AS TIMESTAMP) AS VARCHAR) AS str_to_ts_str,
  TRY_CAST(l_returnflag AS DECIMAL(10,2)) AS str_to_dec_null,
  CAST(l_orderkey % 100 AS SMALLINT) AS big_to_small,
  CAST(l_linenumber AS TINYINT) AS int_to_tiny,
  CAST(CAST(CAST(l_quantity AS DECIMAL(10,2)) AS DECIMAL(14,4)) AS VARCHAR) AS dec_rescale_str,
  CAST(TRY_CAST(rpad(CAST(CAST(l_shipdate AS DATE) AS VARCHAR), 10, ' ') AS DATE) AS VARCHAR) AS char_to_date_str,
  rpad(substr(CAST(CAST(l_shipdate AS TIMESTAMP) AS VARCHAR), 1, 13), 13, ' ') AS ts_to_char13,
  CAST(TRY_CAST(substr(CAST(CAST(l_shipdate AS DATE) AS VARCHAR) || ' 00:00:00', 1, 19) AS TIMESTAMP) AS VARCHAR) AS varchar_to_ts_str,
  TRY_CAST(rpad(CAST(l_linenumber AS VARCHAR), 5, ' ') AS INT) AS char_to_int,
  CAST(CAST(l_quantity > 25 AS INT) AS VARCHAR) AS bool_to_int_str,
  CAST(CAST(l_orderkey AS DECIMAL(20,6)) AS VARCHAR) AS ts_to_dec_str,
  strftime(to_timestamp(l_linenumber * 86400.5), '%Y-%m-%d %H:%M:%S.%f') AS dbl_to_ts_str,
  CAST(CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP) AS VARCHAR) AS date_to_ts_str
FROM lineitem
WHERE l_orderkey <= 200
ORDER BY l_orderkey, l_linenumber
"""


def _positional_orc(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per testdata fingerprint) a Hive-1.x-style
    ORC copy of a lineitem projection whose PHYSICAL column names are
    _col0.._col3 — the layout old Hive writers produce and the reason
    the reference grew `orc.force.positional.evolution`
    (`OrcConf.java:141-145`): the file's names carry no information,
    so the reader must map file→reader columns BY POSITION."""
    return staged(
        sf_dir,
        "orc/lineitem_positional",
        ["lineitem"],
        lambda p: write_orc(
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
            .toDF("_col0", "_col1", "_col2", "_col3"),
            p,
        ),
    )


def c3_positional_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/positional: read a Hive-written (_colN-named) ORC file under
    POSITIONAL file→reader mapping — the reference's
    `orc.force.positional.evolution` mode (`OrcConf.java:141-145`,
    `SchemaEvolution.java:38-130`), which name-based evolution (c1)
    cannot handle: every _colN name mismatches, so a name-mapped read
    would return ALL nulls. Spark-first: the ORC reader detects the
    all-_colN file layout and maps the explicit reader schema by
    position (the same Hive-compat rule the reference implements as a
    conf), so renamed reader columns — including a WIDENED int→bigint
    on the second field, proving conversions compose with positional
    mapping — receive the file's values. `tests/test_ppd_evolution.py`
    pins both mapping modes against each other.

    Scale shape: evolution is a per-file read-time mapping, free of
    shuffles; the rollup is one 3-group aggregate (exact cents
    accumulation, cast-then-divide mirrored in the oracle); orderBy
    tail = oracle determinism."""
    path = _positional_orc(spark, sf_dir)
    reader_schema = (
        "order_key bigint, line_no bigint, qty double, ret_flag string"
    )
    df = read_orc(spark, path, schema=reader_schema)
    return (
        df.groupBy("ret_flag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("order_key")).alias("order_key_checksum"),
            F.sum(F.col("line_no")).alias("line_no_sum"),
            F.sum(F.floor(F.col("qty") * 100 + F.lit(0.5)).cast("bigint")).alias(
                "qty_cents"
            ),
        )
        .orderBy("ret_flag")
    )


C3P_ORACLE = """
SELECT l_returnflag AS ret_flag,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_orderkey AS BIGINT)) AS BIGINT) AS order_key_checksum,
       CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS line_no_sum,
       CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents
FROM lineitem
GROUP BY l_returnflag ORDER BY ret_flag
"""


def u1_union_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union type via the tagged-struct convention, round-tripped
    through ORC: encode uniontype<bigint,string> rows, write, read,
    decode, aggregate per tag. Exactly one variant is non-null per row
    (the reference's tag-stream invariant)."""

    def build(dest: str) -> None:
        tag = (F.col("l_linenumber") % 2).cast("tinyint")
        u = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            union_encode(tag, F.col("l_orderkey"), F.col("l_returnflag")).alias("u"),
        )
        write_orc(u, dest)

    df = read_orc(spark, staged(sf_dir, "orc/union_demo", ["lineitem"], build))
    return (
        df.select(
            union_tag(F.col("u")).alias("tag"),
            union_decode(F.col("u"), 0).alias("v_long"),
            union_decode(F.col("u"), 1).alias("v_str"),
        )
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("v_long").alias("n_long"),
            F.count("v_str").alias("n_str"),
            F.sum("v_long").alias("sum_long"),
            F.count_distinct("v_str").alias("nd_str"),
        )
        .orderBy("tag")
    )


U1_ORACLE = """
SELECT CAST(l_linenumber % 2 AS TINYINT) AS tag,
       COUNT(*) AS cnt,
       COUNT(CASE WHEN l_linenumber % 2 = 0 THEN 1 END) AS n_long,
       COUNT(CASE WHEN l_linenumber % 2 = 1 THEN 1 END) AS n_str,
       CAST(SUM(CASE WHEN l_linenumber % 2 = 0 THEN l_orderkey END) AS BIGINT) AS sum_long,
       COUNT(DISTINCT CASE WHEN l_linenumber % 2 = 1 THEN l_returnflag END) AS nd_str
FROM lineitem
GROUP BY l_linenumber % 2
ORDER BY tag
"""


def t1_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.2 nested types: struct / array<struct> / map round-trip
    through ORC (the reference's `bigrow` test shape,
    `TestVectorOrcFile.java:243-247`), then flatten and checksum.
    NULLs injected at the struct level cover PRESENT-stream semantics.
    """

    def build(dest: str) -> None:
        nested = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            F.when(
                F.col("l_linenumber") != 7,
                F.struct(
                    F.col("l_quantity").alias("qty"),
                    F.col("l_extendedprice").alias("price"),
                ),
            ).alias("inner"),
            F.array(F.col("l_discount"), F.col("l_tax")).alias("rates"),
            F.create_map(F.col("l_returnflag"), F.col("l_quantity")).alias("flagmap"),
            F.struct(
                F.array(
                    F.struct(F.col("l_linenumber").alias("int1"), F.col("l_linestatus").alias("string1"))
                ).alias("list")
            ).alias("middle"),
        )
        write_orc(nested, dest)

    df = read_orc(spark, staged(sf_dir, "orc/nested_demo", ["lineitem"], build))
    return df.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count("inner").alias("n_inner"),
        F.sum(F.col("inner.qty").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("inner.price").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.sum(F.element_at("rates", 1).cast("decimal(8,4)")).cast("double").alias("sum_disc"),
        F.sum(F.element_at("rates", 2).cast("decimal(8,4)")).cast("double").alias("sum_tax"),
        F.sum(F.element_at(F.col("flagmap"), F.lit("R")).cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_r_qty"),
        F.sum(F.col("middle.list")[0]["int1"]).alias("sum_mid_int"),
        F.count_distinct(F.col("middle.list")[0]["string1"]).alias("nd_mid_str"),
    )


T1_ORACLE = """
SELECT COUNT(*) AS cnt,
       COUNT(CASE WHEN l_linenumber != 7 THEN 1 END) AS n_inner,
       CAST(SUM(CASE WHEN l_linenumber != 7 THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_qty,
       CAST(SUM(CASE WHEN l_linenumber != 7 THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS sum_disc,
       CAST(SUM(CAST(l_tax AS DECIMAL(8,4))) AS DOUBLE) AS sum_tax,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_r_qty,
       CAST(SUM(l_linenumber) AS BIGINT) AS sum_mid_int,
       COUNT(DISTINCT l_linestatus) AS nd_mid_str
FROM lineitem
"""
