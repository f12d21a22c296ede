"""Column mapping (sources/snaptable.py rename_column/drop_column):
Delta-column-mapping-equivalent metadata-only column DDL. Files always
carry PHYSICAL names; the manifest maps logical -> physical, readers
plan physical and rename back, writers translate at the single write
chokepoint, and stats/bloom/DV machinery stays physical-keyed — so a
rename touches zero data files at any table size."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
    snaptable as st,
)
from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources.readers import (
    read_fixture,
)


@pytest.fixture
def orders(spark, sf_dir):
    return read_fixture(spark, sf_dir, "orders")


def _tbl(tmp_path) -> str:
    return str(tmp_path / "cm_orders")


def test_rename_is_metadata_only_and_reads_back(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    files_v1 = list(st._read_manifest(t, 1)["files"])
    v2 = st.rename_column(t, "o_totalprice", "total_price")
    m2 = st._read_manifest(t, v2)
    assert m2["operation"] == "rename_column"
    assert m2["files"] == files_v1  # zero data movement
    assert m2["column_mapping"] == {"total_price": "o_totalprice"}

    snap = st.read_snapshot(spark, t)
    assert "total_price" in snap.columns
    assert "o_totalprice" not in snap.columns
    # exact row fidelity under the new name
    exp = {
        (r.o_orderkey, r.o_totalprice)
        for r in orders.select("o_orderkey", "o_totalprice").collect()
    }
    got = {
        (r.o_orderkey, r.total_price)
        for r in snap.select("o_orderkey", "total_price").collect()
    }
    assert got == exp
    # time travel: the pre-rename version still reads the old name
    assert "o_totalprice" in st.read_snapshot(spark, t, version=1).columns


def test_append_and_rewrites_write_physical_names(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    n0 = orders.count()
    st.rename_column(t, "o_totalprice", "total_price")
    extra = orders.limit(50).withColumnRenamed("o_totalprice", "total_price")
    st.append(extra, t)
    snap = st.read_snapshot(spark, t)
    assert snap.count() == n0 + 50
    # the appended files carry the PHYSICAL name, so the whole table
    # still reads under one physical schema
    import glob

    import pyarrow.parquet as pq

    newest = max(
        glob.glob(f"{t}/data/**/*.parquet", recursive=True),
        key=lambda p: __import__("os").path.getmtime(p),
    )
    assert "o_totalprice" in pq.ParquetFile(newest).schema_arrow.names
    # rewrite path (OPTIMIZE) keeps the mapping consistent
    st.optimize(spark, t, files_per_partition=1)
    assert st.read_snapshot(spark, t).count() == n0 + 50
    assert "total_price" in st.read_snapshot(spark, t).columns


def test_scan_prunes_and_filters_on_renamed_column(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    # clustered write so footer stats actually prune the range
    st.create_table(
        orders.orderBy("o_totalprice").coalesce(4), t, []
    )
    st.optimize(spark, t, files_per_partition=4, cluster_by=["o_totalprice"])
    st.rename_column(t, "o_totalprice", "total_price")
    head = st.current_version(t)
    m = st._read_manifest(t, head)
    pruned = st._prune_files(t, m, [("total_price", ">", 400000.0)])
    assert len(pruned) < len(m["files"]), "stats must prune via the mapping"
    got = st.scan(spark, t, [("total_price", ">", 400000.0)]).count()
    assert got == orders.filter(F.col("o_totalprice") > 400000.0).count()


def test_bloom_survives_rename_in_both_directions(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    # index BEFORE the rename, probe AFTER
    st.add_bloom_index(spark, t, "o_custkey")
    st.rename_column(t, "o_custkey", "customer_key")
    key = int(orders.first().o_custkey)
    exp = orders.filter(F.col("o_custkey") == key).count()
    assert st.scan(spark, t, [("customer_key", "=", key)]).count() == exp
    # index AFTER a rename stores the physical key too
    st.rename_column(t, "o_orderkey", "order_key")
    st.add_bloom_index(spark, t, "order_key")
    m = st._read_manifest(t, st.current_version(t))
    blooms = {
        c for s in m["file_stats"].values() for c in s.get("bloom", {})
    }
    assert "o_orderkey" in blooms and "order_key" not in blooms
    okey = int(orders.first().o_orderkey)
    assert st.scan(spark, t, [("order_key", "=", okey)]).count() == 1


def test_dv_delete_on_renamed_column(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    st.rename_column(t, "o_totalprice", "total_price")
    n0 = orders.count()
    n_del = orders.filter(F.col("o_totalprice") > 400000.0).count()
    st.delete_where(spark, t, [("total_price", ">", 400000.0)], use_dv=True)
    snap = st.read_snapshot(spark, t)
    assert snap.count() == n0 - n_del
    assert snap.filter(F.col("total_price") > 400000.0).count() == 0
    assert st.table_stats(t)["rows"] == n0 - n_del


def test_drop_column_and_resurrection_guard(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    n0 = orders.count()
    v2 = st.drop_column(t, "o_orderpriority")
    m2 = st._read_manifest(t, v2)
    assert m2["operation"] == "drop_column"
    assert m2["retired_columns"] == ["o_orderpriority"]
    snap = st.read_snapshot(spark, t)
    assert "o_orderpriority" not in snap.columns
    # time travel still has it
    assert "o_orderpriority" in st.read_snapshot(spark, t, version=1).columns
    # re-adding the same logical name must NOT resurrect old values:
    # the new column gets a fresh physical alias, old files null-fill
    re_add = snap.limit(10).withColumn("o_orderpriority", F.lit("X-NEW"))
    st.append(re_add, t, merge_schema=True)
    m = st._read_manifest(t, st.current_version(t))
    assert m["column_mapping"]["o_orderpriority"].startswith(
        "o_orderpriority__r"
    )
    vals = {
        r[0]
        for r in st.read_snapshot(spark, t)
        .select("o_orderpriority")
        .distinct()
        .collect()
    }
    assert vals == {"X-NEW", None}
    assert st.read_snapshot(spark, t).count() == n0 + 10


def test_rename_refusals(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(
        orders,
        t,
        ["o_orderstatus"],
        constraints={"price_pos": "o_totalprice >= 0"},
    )
    with pytest.raises(ValueError, match="partition column"):
        st.rename_column(t, "o_orderstatus", "status")
    with pytest.raises(ValueError, match="partition column"):
        st.drop_column(t, "o_orderstatus")
    with pytest.raises(ValueError, match="CHECK constraint"):
        st.rename_column(t, "o_totalprice", "total_price")
    with pytest.raises(ValueError, match="CHECK constraint"):
        st.drop_column(t, "o_totalprice")
    with pytest.raises(ValueError, match="already exists"):
        st.rename_column(t, "o_custkey", "o_orderkey")
    with pytest.raises(ValueError, match="not in schema"):
        st.rename_column(t, "nope", "x")


def test_rename_back_clears_mapping_and_clone_carries_it(
    spark, orders, tmp_path
):
    t = _tbl(tmp_path)
    st.create_table(orders, t, [])
    st.rename_column(t, "o_totalprice", "total_price")
    dst = str(tmp_path / "cm_clone")
    st.clone_table(t, dst)
    csnap = st.read_snapshot(spark, dst)
    assert "total_price" in csnap.columns
    assert csnap.count() == orders.count()
    # renaming back to the physical name leaves an identity mapping —
    # which is dropped entirely
    v = st.rename_column(t, "total_price", "o_totalprice")
    assert "column_mapping" not in st._read_manifest(t, v)
    assert "o_totalprice" in st.read_snapshot(spark, t).columns


def test_cdf_reads_each_side_under_its_own_mapping(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders.limit(100), t, [])
    st.rename_column(t, "o_totalprice", "total_price")
    st.append(
        orders.limit(120).withColumnRenamed("o_totalprice", "total_price"),
        t,
    )
    feed = st.changes(spark, t, from_version=2)
    assert "total_price" in feed.columns
    assert feed.filter(F.col("_change_type") == "insert").count() == 120


# ---------------------------------------------------------------------------
# Generated columns (Delta GENERATED ALWAYS AS equivalent)
# ---------------------------------------------------------------------------
GEN = {"price_band": "CASE WHEN o_totalprice > 200000 THEN 'hi' ELSE 'lo' END"}


def test_generated_column_computed_and_validated(spark, orders, tmp_path):
    t = str(tmp_path / "gen_orders")
    # batch omits the column -> computed
    st.create_table(orders, t, ["o_orderstatus"], generated=GEN)
    snap = st.read_snapshot(spark, t)
    assert "price_band" in snap.columns
    n_hi = orders.filter(F.col("o_totalprice") > 200000).count()
    assert snap.filter(F.col("price_band") == "hi").count() == n_hi
    # append omitting it -> computed again
    st.append(orders.limit(30), t)
    assert st.read_snapshot(spark, t).filter(
        F.col("price_band").isNull()
    ).count() == 0
    # append PROVIDING matching values -> accepted
    ok = orders.limit(10).withColumn(
        "price_band",
        F.when(F.col("o_totalprice") > 200000, "hi").otherwise("lo"),
    )
    st.append(ok, t)
    # append contradicting the definition -> rejected, nothing commits
    head = st.current_version(t)
    bad = orders.limit(10).withColumn("price_band", F.lit("hi"))
    if bad.filter(F.col("o_totalprice") <= 200000).count() > 0:
        with pytest.raises(st.ConstraintViolation, match="generated"):
            st.append(bad, t)
        assert st.current_version(t) == head


def test_generated_column_recomputes_on_update(spark, orders, tmp_path):
    t = str(tmp_path / "gen_upd")
    st.create_table(orders, t, [], generated=GEN)
    # update the SOURCE column across the band boundary: the
    # generated column must recompute, not keep its stale value
    st.update_where(
        spark,
        t,
        [("o_totalprice", ">", 300000.0)],
        {"o_totalprice": "1000.0"},
    )
    snap = st.read_snapshot(spark, t)
    assert snap.filter(
        (F.col("o_totalprice") <= 200000) & (F.col("price_band") == "hi")
    ).count() == 0
    # DV-mode update recomputes too
    st.update_where(
        spark,
        t,
        [("o_totalprice", "<", 2000.0)],
        {"o_totalprice": "250000.0"},
        use_dv=True,
    )
    snap = st.read_snapshot(spark, t)
    assert snap.filter(
        (F.col("o_totalprice") > 200000) & (F.col("price_band") != "hi")
    ).count() == 0


def test_generated_column_blocks_ddl_and_survives_clone(
    spark, orders, tmp_path
):
    t = str(tmp_path / "gen_ddl")
    st.create_table(orders, t, [], generated=GEN)
    with pytest.raises(ValueError, match="generated column"):
        st.rename_column(t, "o_totalprice", "total_price")
    with pytest.raises(ValueError, match="generated column"):
        st.drop_column(t, "price_band")
    dst = str(tmp_path / "gen_clone")
    st.clone_table(t, dst)
    assert st._read_manifest(dst, 1).get("generated") == GEN
    # the clone keeps enforcing: contradicting append fails there too
    bad = orders.limit(5).withColumn("price_band", F.lit("nope"))
    with pytest.raises(st.ConstraintViolation, match="generated"):
        st.append(bad, dst)


def test_update_set_exprs_cast_to_declared_types(spark, orders, tmp_path):
    """A SET literal like 1000.0 parses as DECIMAL — update_where must
    cast it to the DECLARED column type so the physical parquet type
    cannot silently drift mid-table (both rewrite and DV modes)."""
    import glob

    import pyarrow.parquet as pq

    t = str(tmp_path / "type_upd")
    st.create_table(orders, t, [])
    st.update_where(
        spark, t, [("o_totalprice", ">", 450000.0)], {"o_totalprice": "1000.0"}
    )
    st.update_where(
        spark,
        t,
        [("o_totalprice", "<", 1500.0)],
        {"o_totalprice": "2000.0"},
        use_dv=True,
    )
    for f in glob.glob(f"{t}/data/**/*.parquet", recursive=True):
        sch = pq.ParquetFile(f).schema_arrow
        assert str(sch.field("o_totalprice").type) == "double", f
    assert dict(st.read_snapshot(spark, t).dtypes)["o_totalprice"] == "double"


def test_streaming_append_computes_generated_columns(
    spark, orders, tmp_path
):
    """Streaming ingest into a generated-column table: each
    foreachBatch append computes the omitted GENERATED column, so the
    table is always band-complete no matter which micro-batch a row
    arrived in — the enforcement lives in the TABLE, not the job."""
    import time

    t = str(tmp_path / "gen_stream")
    st.create_table(
        orders.limit(1), t, [], generated=GEN
    )
    src = tmp_path / "gsrc"
    src.mkdir()
    rows = orders.limit(400).collect()
    now = time.time()
    for i in range(2):
        chunk = rows[i * 200 : (i + 1) * 200]
        spark.createDataFrame(chunk, orders.schema).coalesce(1).write.parquet(
            str(tmp_path / f"gstage_{i}")
        )
        part = next(
            p for p in (tmp_path / f"gstage_{i}").iterdir()
            if p.name.endswith(".parquet")
        )
        dst = src / f"slice_{i}.parquet"
        part.rename(dst)
        import os

        os.utime(dst, (now + 100 * i, now + 100 * i))

    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _eid: st.append(df, t) if df.count() else None
        )
        .option("checkpointLocation", str(tmp_path / "gckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    snap = st.read_snapshot(spark, t)
    assert snap.count() == 401
    assert snap.filter(F.col("price_band").isNull()).count() == 0
    n_hi = snap.filter(
        (F.col("o_totalprice") > 200000) & (F.col("price_band") == "hi")
    ).count()
    assert n_hi == snap.filter(F.col("o_totalprice") > 200000).count()


def test_cli_table_actions_column_ddl_layout_dryrun(spark, orders, tmp_path):
    """The Spark-free CLI surface for the new maintenance actions:
    rename-column / drop-column / layout / vacuum --dry-run all run
    without a SparkSession and report JSON."""
    import json as _json
    import subprocess
    import sys

    t = str(tmp_path / "cli_tab")
    st.create_table(orders, t, ["o_orderstatus"])

    def cli(*args):
        r = subprocess.run(
            [sys.executable, "-m",
             "ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.cli",
             "table", "--table", t, *args],
            capture_output=True, text=True, timeout=120,
        )
        assert r.returncode == 0, r.stderr[-500:]
        return _json.loads(r.stdout)

    assert cli("rename-column", "--column", "o_totalprice",
               "--to", "total_price") == {"version": 2}
    assert cli("drop-column", "--column", "o_orderpriority") == {"version": 3}
    assert cli("add-columns", "--columns", "note:string,score:double") == {
        "version": 4
    }
    layout = cli("layout")
    assert {tuple(e["partition"].items())[0][1] for e in layout} == {
        "F", "O", "P"
    }
    assert all(e["rows"] and e["n_files"] >= 1 for e in layout)
    dry = cli("vacuum", "--retain-last", "1", "--dry-run")
    assert dry["dry_run"] is True and dry["expired_versions"] == 3
    # DDL landed: read back under the new schema
    cols = st.read_snapshot(spark, t).columns
    assert "total_price" in cols and "o_orderpriority" not in cols
    assert cols[-2:] == ["note", "score"]


def test_overwrite_after_rename_reconciles_mapping(spark, orders, tmp_path):
    """ADVICE r7: overwrite_table after RENAME a->b with a frame that
    reintroduces a column named `a` (the mapped PHYSICAL name) must
    not commit an unreadable head. The surviving rename keeps its
    physical alias, the colliding new column gets a fresh one, and
    every read path resolves."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    st.rename_column(t, "o_totalprice", "total_price")
    # new frame: keeps the renamed column AND brings back a column
    # under the old physical name with unrelated values
    df = (
        st.read_snapshot(spark, t)
        .withColumn("o_totalprice", F.lit(-1.0))
        .limit(500)
    )
    v = st.overwrite_table(df, t)
    m = st._read_manifest(t, v)
    assert m["column_mapping"]["total_price"] == "o_totalprice"
    assert m["column_mapping"]["o_totalprice"].startswith("o_totalprice__r")
    snap = st.read_snapshot(spark, t)
    assert snap.count() == 500
    # both columns resolve with their own values, not each other's
    row = snap.select("total_price", "o_totalprice").first()
    assert row.o_totalprice == -1.0
    assert row.total_price != -1.0
    # scan path (stats/DV-aware reader) resolves too
    assert st.scan(spark, t, [("total_price", ">", 0)]).count() == 500


@pytest.mark.parametrize("how", ["api", "sql"])
def test_replace_after_rename_reads_values(spark, tmp_path, how):
    """CREATE OR REPLACE after RENAME a->b commits an empty column
    mapping, so its files must be written under that mapping: the
    renamed column reads its values (not NULL) and every data file's
    footer carries exactly the physical names the manifest maps to."""
    import os

    import pyarrow.parquet as pq

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        ddl,
    )

    t = str(tmp_path / "cm_replace")
    st.create_table(spark.createDataFrame([(1, 10)], "id int, a int"), t, [])
    st.rename_column(t, "a", "b")
    if how == "api":
        st.replace_table(
            spark.createDataFrame([(3, 30), (4, 40)], "id int, b int"), t
        )
    else:
        ddl.execute_sql(
            spark,
            "CREATE OR REPLACE TABLE cm_replace AS "
            "SELECT * FROM VALUES (3, 30), (4, 40) AS v(id, b)",
            warehouse=str(tmp_path),
        )
    got = sorted(tuple(r) for r in st.read_snapshot(spark, t).collect())
    assert got == [(3, 30), (4, 40)]
    m = st._read_manifest(t, st.current_version(t))
    mapping = m.get("column_mapping") or {}
    physical = {mapping.get(c, c) for c in ("id", "b")}
    for f in m["files"]:
        assert set(pq.read_schema(os.path.join(t, f)).names) == physical, f


def test_overwrite_drops_mapping_of_departed_columns(spark, orders, tmp_path):
    """A logical column that leaves the schema in an overwrite takes
    its mapping entry with it; the manifest never maps columns absent
    from the committed schema."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    st.rename_column(t, "o_totalprice", "total_price")
    df = st.read_snapshot(spark, t).drop("total_price")
    v = st.overwrite_table(df, t)
    m = st._read_manifest(t, v)
    assert "total_price" not in (m.get("column_mapping") or {})
    snap = st.read_snapshot(spark, t)
    assert "total_price" not in snap.columns
    assert snap.count() == orders.count()


def test_ddl_guard_ignores_string_literals(spark, orders, tmp_path):
    """ADVICE r7 (low): a CHECK constraint whose TEXT mentions a
    column name only inside a string literal must not block DDL on
    that column; a real identifier reference still does."""
    t = _tbl(tmp_path)
    st.create_table(
        orders.withColumn("priority", F.lit(1)).withColumn(
            "status", F.lit("ok")
        ),
        t,
    )
    st.add_constraint(spark, t, "no_prio_status", "status != 'priority'")
    v = st.rename_column(t, "priority", "prio")  # must not raise
    assert "prio" in st.read_snapshot(spark, t).columns
    st.rename_column(t, "prio", "priority")
    st.add_constraint(spark, t, "prio_pos", "priority >= 0")
    with pytest.raises(ValueError, match="prio_pos"):
        st.rename_column(t, "priority", "p2")


def test_add_columns_metadata_only_nullfill(spark, orders, tmp_path):
    """ALTER TABLE ADD COLUMNS is a metadata-only commit: zero data
    movement, every pre-existing row null-fills the new fields on
    read, a later append may populate them, and time travel to the
    pre-add version shows the old schema."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    files_v1 = list(st._read_manifest(t, 1)["files"])
    n0 = orders.count()
    # pair form, JVM-free types
    v2 = st.add_columns(t, [("note", "string"), ("score", "double")])
    m2 = st._read_manifest(t, v2)
    assert m2["operation"] == "add_columns"
    assert m2["files"] == files_v1  # zero data movement
    snap = st.read_snapshot(spark, t)
    assert snap.columns[-2:] == ["note", "score"]
    assert snap.filter(
        F.col("note").isNotNull() | F.col("score").isNotNull()
    ).count() == 0
    # DDL-string form with a complex type (needs the session parser)
    st.add_columns(t, "tags array<string>", spark=spark)
    snap = st.read_snapshot(spark, t)
    assert dict(snap.dtypes)["tags"] == "array<string>"
    # appends can now populate the evolved columns
    extra = (
        orders.limit(5)
        .withColumn("note", F.lit("n"))
        .withColumn("score", F.lit(1.5))
        .withColumn("tags", F.array(F.lit("a")))
    )
    st.append(extra, t)
    got = st.read_snapshot(spark, t)
    assert got.count() == n0 + 5
    assert got.filter(F.col("note") == "n").count() == 5
    # time travel: pre-add version has the original schema
    assert "note" not in st.read_snapshot(spark, t, version=1).columns


def test_add_columns_resurrection_guard_and_rejections(
    spark, orders, tmp_path
):
    """A new logical name colliding with a claimed or retired
    PHYSICAL name gets a fresh physical alias — RENAME a->b then ADD
    COLUMNS (a ...) must read NULL, never b's old data — and the
    usual rejections hold."""
    t = _tbl(tmp_path)
    st.create_table(orders, t)
    st.rename_column(t, "o_totalprice", "total_price")
    v = st.add_columns(t, [("o_totalprice", "double")])
    m = st._read_manifest(t, v)
    assert m["column_mapping"]["o_totalprice"].startswith(
        "o_totalprice__r"
    )
    snap = st.read_snapshot(spark, t)
    assert snap.filter(F.col("o_totalprice").isNotNull()).count() == 0
    assert snap.filter(F.col("total_price").isNotNull()).count() > 0
    # dropped column re-added: retired physical stays quarantined
    st.drop_column(t, "o_orderpriority")
    v2 = st.add_columns(t, [("o_orderpriority", "string")])
    m2 = st._read_manifest(t, v2)
    assert m2["column_mapping"]["o_orderpriority"].startswith(
        "o_orderpriority__r"
    )
    assert (
        st.read_snapshot(spark, t)
        .filter(F.col("o_orderpriority").isNotNull())
        .count()
        == 0
    )
    with pytest.raises(ValueError, match="already exist"):
        st.add_columns(t, [("o_orderkey", "long")])
    with pytest.raises(ValueError, match="duplicate"):
        st.add_columns(t, [("x", "int"), ("x", "long")])
    with pytest.raises(ValueError, match="at least one"):
        st.add_columns(t, [])


def test_cli_add_columns_decimal(spark, orders, tmp_path):
    """Review r14: the CLI add-columns split is paren-aware, so the
    JVM-free-parseable decimal(p,s) type survives its internal
    comma."""
    import json as _json
    import subprocess
    import sys

    t = str(tmp_path / "cli_dec")
    st.create_table(orders.limit(10).coalesce(1), t)
    r = subprocess.run(
        [sys.executable, "-m",
         "ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.cli",
         "table", "--table", t, "add-columns",
         "--columns", "price:decimal(10,2),note:string"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-300:]
    assert _json.loads(r.stdout) == {"version": 2}
    assert dict(st.read_snapshot(spark, t).dtypes)["price"] == "decimal(10,2)"
