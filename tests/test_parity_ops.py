"""Semantic-oracle parity tests: expected values pinned from the
reference's inline mains (GTIDUtils.java:254-281, SimpleDdlParser.java:42-53)
and boundary tables (TableRowsParser.java:30-34,155-186) — FIXTURES.md §5."""

import pytest

from binlake_spark.operators.ddl import classify_ddl, extract_added_columns
from binlake_spark.operators.gtid import GTIDSet, gtid_islands, gtid_set_of

U1 = "bd4e26ed-2bd7-4a13-9470-5d6d6f0bebb0"
U2 = "5ecf7dc9-cfbc-47d3-89ed-f9bacde3e0b4"


# ---------------------------------------------------------------------- #
# GTID set algebra — cases from GTIDUtils.main (GTIDUtils.java:254-281)
# ---------------------------------------------------------------------- #
@pytest.mark.parametrize(
    "src,dst,expected",
    [
        (f"{U1}:1-50,{U2}:3-50", f"{U1}:1:6:12-50,{U2}:3-50", True),
        (f"{U1}:1-50,{U2}:3-50", f"{U1}:12-50,{U2}:3-50", True),
        (f"{U1}:1-52,{U2}:3-50", f"{U1}:12-50,{U2}:3-50", True),
        (f"{U1}:12-50", f"{U1}:1-52", False),
        (f"{U1}:1-54,{U2}:3-50", f"{U1}:1-55", False),
        (f"{U1}:1-55,{U2}:3-50", f"{U1}:1-55,{U2}:3-50", True),
    ],
)
def test_gtid_contains_reference_cases(src, dst, expected):
    assert GTIDSet.parse(src).contains(GTIDSet.parse(dst)) is expected


def test_gtid_adjacent_interval_merge():
    # ClosedInterval.merge collapses adjacency (GTID.java:136-142)
    s = GTIDSet.parse(f"{U1}:1-4:5-9:12-15")
    assert s.intervals[U1] == [(1, 9), (12, 15)]
    s.add(U1, 10)
    assert s.intervals[U1] == [(1, 10), (12, 15)]
    s.add(U1, 11)
    assert s.intervals[U1] == [(1, 15)]


def test_gtid_union_and_roundtrip():
    a = GTIDSet.parse(f"{U1}:1-5")
    b = GTIDSet.parse(f"{U1}:6-9,{U2}:1")
    u = a.union(b)
    assert str(u) == f"{U2}:1,{U1}:1-9"
    assert GTIDSet.parse(str(u)) == u


def test_gtid_islands_distributed_matches_python(spark):
    rows = [("a", g) for g in [1, 2, 3, 7, 8, 10]] + [("b", g) for g in [5, 6]]
    df = spark.createDataFrame(rows, "server_uuid string, gno long")
    got = {
        (r.server_uuid, r.lo, r.hi)
        for r in gtid_islands(df).collect()
    }
    assert got == {("a", 1, 3), ("a", 7, 8), ("a", 10, 10), ("b", 5, 6)}
    s = gtid_set_of(df)
    assert s == GTIDSet({"a": [(1, 3), (7, 8), (10, 10)], "b": [(5, 6)]})


# ---------------------------------------------------------------------- #
# DDL classification — cases from SimpleDdlParser patterns/main
# ---------------------------------------------------------------------- #
@pytest.mark.parametrize(
    "sql,typ,table",
    [
        ("ALTER TABLE `db1`.`t1` ADD COLUMN c1 varchar(255)", "ALTER", "t1"),
        ("alter ignore table t2 drop column x", "ALTER", "t2"),
        ("CREATE TABLE IF NOT EXISTS t3 (id int)", "CREATE", "t3"),
        ("CREATE TEMPORARY TABLE tmp1 (id int)", "CREATE", "tmp1"),
        ("DROP TABLE t4", "ERASE", "t4"),
        ("TRUNCATE TABLE t5", "TRUNCATE", "t5"),
        ("TRUNCATE t6", "TRUNCATE", "t6"),
        ("CREATE UNIQUE INDEX idx ON t7 (a)", "CINDEX", "t7"),
        ("DROP INDEX idx ON t8", "DINDEX", "t8"),
        ("INSERT INTO t9 VALUES (1)", "DML", None),
        ("GRANT SELECT ON *.* TO 'admin'@'%'", "QUERY", None),
    ],
)
def test_ddl_classify(sql, typ, table):
    r = classify_ddl(sql, "db0")
    assert r.type == typ
    if table is not None:
        assert r.table == table


def test_ddl_rename_multi_table_split():
    # the multi-rename from SimpleDdlParser.main (SimpleDdlParser.java:44)
    sql = (
        "RENAME TABLE `b2b_trade100`.`b2b_order_main` TO "
        "`b2b_trade100`.`_b2b_order_main_old`, "
        "`b2b_trade100`.`_b2b_order_main_new` TO `b2b_trade100`.`b2b_order_main`"
    )
    r = classify_ddl(sql)
    assert r.type == "RENAME"
    assert len(r.renames) == 2
    assert r.renames[0][0].endswith("b2b_order_main")
    assert r.renames[1][1].endswith("b2b_order_main")


def test_ddl_comment_stripping_and_use_prefix():
    r = classify_ddl("/* comment */ USE db2; ALTER TABLE t1 ADD c int")
    assert r.type == "ALTER" and r.schema == "db2"


def test_extract_added_columns():
    assert extract_added_columns(
        "ALTER TABLE t ADD COLUMN lang varchar(8), ADD score double"
    ) == [("lang", "string"), ("score", "double")]


# ---------------------------------------------------------------------- #
# Unsigned promotion boundaries (TableRowsParser.java:30-34,155-186)
# ---------------------------------------------------------------------- #
def test_unsigned_promotion_boundaries(spark):
    from pyspark.sql import functions as F

    from binlake_spark.functions import promote_unsigned, spark_type_for

    assert spark_type_for("tinyint", unsigned=True) == "smallint"
    assert spark_type_for("smallint", unsigned=True) == "int"
    assert spark_type_for("mediumint", unsigned=True) == "int"
    assert spark_type_for("int", unsigned=True) == "bigint"
    assert spark_type_for("bigint", unsigned=True) == "decimal(20,0)"
    assert spark_type_for("varchar(255)") == "string"

    df = spark.createDataFrame(
        [(-1,)], "v long"
    ).select(
        promote_unsigned(F.col("v").cast("tinyint"), "tinyint").alias("u8"),
        promote_unsigned(F.col("v").cast("smallint"), "smallint").alias("u16"),
        promote_unsigned(F.col("v").cast("int"), "int").alias("u32"),
        promote_unsigned(F.col("v").cast("long"), "bigint").alias("u64"),
    )
    row = df.collect()[0]
    assert row.u8 == 255
    assert row.u16 == 65535
    assert row.u32 == 4294967295
    assert int(row.u64) == 18446744073709551615


# ---------------------------------------------------------------------- #
# Filter chain + order grades
# ---------------------------------------------------------------------- #
def test_filters_and_keygen(spark):
    from binlake_spark.operators.filters import (
        drop_pt_osc_tables,
        filter_event_types,
        filter_tables,
        project_columns,
        with_fake_columns,
    )
    from binlake_spark.operators.keygen import order_key

    df = spark.createDataFrame(
        [
            ("db1", "orders", "I", 1, 10),
            ("db1", "_orders_old", "I", 2, 11),
            ("db2", "users", "U", 3, 12),
            ("db2", "audit", "D", 4, 13),
        ],
        "db string, table string, op string, trx_id long, v long",
    )
    assert drop_pt_osc_tables(df).count() == 3
    assert filter_tables(df, white=r"^db1\..*").count() == 2
    assert filter_tables(df, black=r"^db2\..*").count() == 2
    assert filter_event_types(df, ["I", "U"]).count() == 3
    assert project_columns(df, keep=["db", "op"]).columns == ["db", "op"]
    assert project_columns(df, drop=["v"]).columns == ["db", "table", "op", "trx_id"]
    out = with_fake_columns(df, {"site": "dc1"}).select("site").distinct().collect()
    assert [r.site for r in out] == ["dc1"]

    # order grades produce the documented keys + fallback chain
    import pyspark.sql.functions as F

    keyed = df.select(
        order_key(df, "BUSINESS_KEY_ORDER", business_cols=["v"]).alias("k_biz"),
        order_key(df, "TABLE_ORDER").alias("k_tab"),
        order_key(df, "TRANSACTION_ORDER").alias("k_trx"),
        order_key(df, "DB_ORDER").alias("k_db"),
        order_key(df, "INSTANCE_ORDER", instance="host1").alias("k_inst"),
    ).collect()
    assert keyed[0].k_biz == "10"
    assert keyed[0].k_tab == "db1.orders"
    assert keyed[0].k_trx == 1
    assert keyed[0].k_db == "db1"
    assert keyed[0].k_inst == "host1"
    # fallback: business grade with no business cols → table key
    fb = df.select(order_key(df, "BUSINESS_KEY_ORDER").alias("k")).collect()
    assert fb[0].k == "db1.orders"


def test_gtid_position_containment_assert(spark):
    """Bootstrap containment (GTIDTracker.java:30-51 analog): a resume
    position inside the log's executed set passes; one outside fails fast
    with a clear error."""
    from binlake_spark.operators.gtid import (
        GTIDSet,
        PositionNotInLog,
        assert_position_covered,
    )

    import pytest

    log = spark.createDataFrame(
        [("u1", g) for g in range(1, 11)] + [("u2", g) for g in range(5, 8)],
        "server_uuid string, gno long",
    )
    src = assert_position_covered(log, GTIDSet.parse("u1:3-5,u2:6"))
    assert str(src) == "u1:1-10,u2:5-7"
    with pytest.raises(PositionNotInLog):
        assert_position_covered(log, GTIDSet.parse("u1:9-12"))
    with pytest.raises(PositionNotInLog):
        assert_position_covered(log, GTIDSet.parse("u3:1"))


def test_extract_added_columns_ignores_index_clauses():
    """ADD INDEX/KEY/UNIQUE/CONSTRAINT clauses are not column definitions
    — only real ADD COLUMN specs survive (add-column-only rule)."""
    from binlake_spark.operators.ddl import extract_added_columns

    assert extract_added_columns("ALTER TABLE docs ADD INDEX idx_lang (lang)") == []
    assert extract_added_columns("ALTER TABLE docs ADD UNIQUE KEY uq (a, b)") == []
    assert extract_added_columns(
        "ALTER TABLE docs ADD CONSTRAINT fk FOREIGN KEY (x) REFERENCES t(y)"
    ) == []
    assert extract_added_columns(
        "ALTER TABLE docs ADD COLUMN lang varchar(8), ADD INDEX il (lang),"
        " ADD quality double"
    ) == [("lang", "string"), ("quality", "double")]
    # a column literally named `index` is still a column when quoted
    assert extract_added_columns("ALTER TABLE docs ADD COLUMN `index` int") == [
        ("index", "int")
    ]


# ---------------------------------------------------------------------- #
# Aviator expression filters (AviaterELFilter / RegexFilter / SimpleFilter)
# ---------------------------------------------------------------------- #
def test_el_expression_filter(spark):
    import pytest

    from binlake_spark.operators.filters import filter_expression

    df = spark.createDataFrame(
        [
            ("I", "web", 20, ("db1", "orders")),
            ("U", "web", 5, ("db1", "orders")),
            ("I", "books", 8, ("db2", "users")),
            ("D", "web", 50, ("db2", "users")),
        ],
        "op string, source string, n_tok int, hdr struct<db:string,tbl:string>",
    )
    got = filter_expression(
        df, "op = 'I' AND (n_tok > 10 OR source = 'books')"
    ).collect()
    assert sorted((r.op, r.n_tok) for r in got) == [("I", 8), ("I", 20)]
    # struct navigation (entry.header.x style, AviaterELFilter ROOT_KEY)
    assert filter_expression(df, "hdr.db = 'db2' AND NOT op = 'D'").count() == 1
    # empty expression passes everything (AviaterELFilter.java:27-29)
    assert filter_expression(df, None).count() == 4
    assert filter_expression(df, "  ").count() == 4
    # whitelisted function
    assert filter_expression(df, "lower(source) IN ('web')").count() == 3

    # expressions are config, not code: reject before Catalyst sees them
    with pytest.raises(ValueError, match="not a column"):
        filter_expression(df, "exists(select 1)")
    with pytest.raises(ValueError, match="not a column"):
        filter_expression(df, "reflect('java.lang.Runtime', 'exec') = ''")
    with pytest.raises(ValueError, match="illegal token"):
        filter_expression(df, "op = 'I'; 1=1")
    with pytest.raises(ValueError, match="not a column"):
        filter_expression(df, "nope = 1")
    with pytest.raises(ValueError, match="must be boolean"):
        filter_expression(df, "n_tok + 1")


def test_regex_list_filter_longest_first_anchoring(spark):
    from binlake_spark.operators.filters import (
        filter_regex_list,
        regex_list_pattern,
    )

    # the documented foo|foot pitfall (AviaterRegexFilter.java:44-55):
    # longest-first + ^$ anchors make both exact names match
    assert regex_list_pattern("foo,foot") == "(?iu)^foot$|^foo$"
    df = spark.createDataFrame(
        [("foo",), ("foot",), ("fool",), ("",), (None,)], "tbl string"
    )
    kept = [r.tbl for r in filter_regex_list(df, "foo,foot", "tbl").collect()]
    assert sorted(k for k in kept if k) == ["foo", "foot"]
    assert "" in kept and None in kept  # empty target → default true (:57-64)
    assert filter_regex_list(df, "", "tbl").count() == 5  # empty pattern
    assert filter_regex_list(df, "", "tbl", default_empty=False).count() == 0
    # case-insensitive via lowercased target (filter :66-68)
    up = spark.createDataFrame([("FOO",)], "tbl string")
    assert filter_regex_list(up, "foo", "tbl").count() == 1
    # ...and an uppercase literal in the PATTERN must match too
    # (one-sided lowering silently dropped every row)
    assert regex_list_pattern("Orders.*") == "(?iu)^Orders.*$"
    mixed = spark.createDataFrame(
        [("Orders",), ("ORDERS_2024",), ("other",)], "tbl string"
    )
    kept = [r.tbl for r in filter_regex_list(mixed, "Orders.*", "tbl").collect()]
    assert sorted(kept) == ["ORDERS_2024", "Orders"]


def test_regex_list_filter_keeps_negated_classes(spark):
    """Case folding must not rewrite escapes: lowercasing the pattern
    text turned ``\\D`` into ``\\d`` and inverted the match."""
    from binlake_spark.operators.filters import filter_regex_list

    df = spark.createDataFrame([("123",), ("abc",), ("a b",)], "tbl string")

    def kept(pattern):
        return sorted(r.tbl for r in filter_regex_list(df, pattern, "tbl").collect())

    assert kept(r"\D+") == ["a b", "abc"]
    assert kept(r"\W*\w+") == ["123", "abc"]
    assert kept(r"a\Sb") == []
    assert kept(r"A\sB") == ["a b"]


def test_simple_list_filter(spark):
    from binlake_spark.operators.filters import filter_simple_list

    df = spark.createDataFrame(
        [("Orders",), ("users",), ("",), (None,)], "tbl string"
    )
    kept = [r.tbl for r in filter_simple_list(df, "ORDERS,audit", "tbl").collect()]
    assert kept == ["Orders", "", None]  # lowercase membership; empty passes
    assert filter_simple_list(df, "", "tbl").count() == 4
