"""Entry-contract smoke tests: entry() runs and returns rows; every
queries() entry has an oracle_sql() twin and matches it on sf0.001;
iceberg-layout round-trip."""


def test_entry_returns_rows(spark):
    import __spark_entry__ as em
    df = em.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"n_name", "n_events", "n_tiles", "min_event"} <= cols


def test_registry_shapes():
    import __spark_entry__ as em
    qs, os_ = em.queries(), em.oracle_sql()
    assert len(qs) >= 45
    assert set(os_) <= set(qs)
    # rows-only entries are the documented non-SQL-expressible ones
    rows_only = set(qs) - set(os_)
    assert rows_only == set()


def test_every_query_matches_its_duckdb_oracle(spark):
    """The oracle differential of the entry contract: every registered query
    at sf0.001 equals its DuckDB oracle in column names, row count and
    order-insensitive values (tools/diffcheck.py runs the same check)."""
    import __spark_entry__ as em
    from tools.diffcheck import compare, oracle_connection

    sf_dir = "/root/testdata/sf0.001"
    con = oracle_connection(sf_dir)
    oracles = em.oracle_sql()
    bad = {}
    for name, fn in em.queries().items():
        status, detail = compare(spark, con, sf_dir, fn, oracles.get(name))
        if status != "ok":
            bad[name] = f"{status}: {detail}"
    assert not bad, bad


def test_oracle_double_constants_read_back_exactly():
    """Every numeric constant the shapefile oracles cast to DOUBLE is, as
    DuckDB reads it, the float64 its text is the repr of. A bare literal
    parses as DECIMAL, and its cast comes back one ulp off for some of the
    projection constants."""
    import re

    import duckdb
    from spark_shp import queries_shp

    casts = sorted({m.group(0): m.group(2)
                    for _, sql in queries_shp.QUERIES.values() if sql
                    for m in re.finditer(r"CAST\(('?)(-?[0-9][0-9.e+-]*)\1"
                                         r" AS DOUBLE\)", sql)}.items())
    assert len(casts) > 274
    got = duckdb.sql("SELECT * FROM (VALUES "
                     + ", ".join(f"({c})" for c, _ in casts) + ")").fetchall()
    bad = {c: g for (c, v), (g,) in zip(casts, got) if g != float(v)}
    assert not bad, bad


def test_iceberg_layout_roundtrip(spark, tmp_path):
    from spark_shp import iceberg_layout as ice
    from spark_shp.queries_spatial import _images_meta_df
    root = str(tmp_path / "tbl")
    df = _images_meta_df(spark, 300).withColumn(
        "fmt_part", __import__("pyspark").sql.functions.col("fmt"))
    snap = ice.write_table(df, root, partition_by="fmt_part")
    assert snap["total_rows"] == 300 and snap["snapshot_id"] == 1
    back = ice.read_table(spark, root)
    assert back.count() == 300
    assert ice.table_stats(root)["total_rows"] == 300
    # second commit bumps the snapshot
    snap2 = ice.write_table(df.limit(10), root, partition_by="fmt_part")
    assert snap2["snapshot_id"] == 2
    assert ice.read_table(spark, root).count() == 10


def test_iceberg_append_and_time_travel(spark, tmp_path):
    """Append snapshots accumulate the file set; read_table(snapshot_id=N)
    reproduces the table exactly as of commit N; hive-partition columns
    survive the manifest-driven (explicit file list) read."""
    from pyspark.sql import functions as F
    from spark_shp import iceberg_layout as ice
    from spark_shp.queries_spatial import _images_meta_df
    root = str(tmp_path / "tbl")
    df = _images_meta_df(spark, 100).withColumn("fmt_part", F.col("fmt"))
    ice.write_table(df.where("fmt = 'raw'"), root, partition_by="fmt_part")
    n1 = ice.read_table(spark, root).count()
    snap2 = ice.write_table(df.where("fmt = 'png'"), root,
                            partition_by="fmt_part", mode="append")
    assert snap2["snapshot_id"] == 2
    cur = ice.read_table(spark, root)
    assert cur.count() == 100 - df.where("fmt = 'qb'").count()
    # partition column present and correct after explicit-file-list read
    assert set(r["fmt_part"] for r in
               cur.select("fmt_part").distinct().collect()) == {"raw", "png"}
    # time travel: snapshot 1 is exactly the pre-append table
    old = ice.read_table(spark, root, snapshot_id=1)
    assert old.count() == n1
    assert set(r["fmt_part"] for r in
               old.select("fmt_part").distinct().collect()) == {"raw"}
    # stray uncommitted file is invisible to manifest-driven readers
    import shutil, glob, os
    src = glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                    recursive=True)[0]
    shutil.copy(src, os.path.join(os.path.dirname(src), "stray.parquet"))
    assert ice.read_table(spark, root).count() == cur.count()


def test_iceberg_overwrite_retention_and_expiry(spark, tmp_path):
    """VERDICT r1 missing #3: an overwrite must NOT clobber earlier
    snapshots' files — time travel to a pre-overwrite snapshot reads its
    own committed file set until expire_snapshots garbage-collects it."""
    import os
    import pytest
    from pyspark.sql import functions as F
    from spark_shp import iceberg_layout as ice
    from spark_shp.queries_spatial import _images_meta_df

    root = str(tmp_path / "tbl")
    df = _images_meta_df(spark, 120).withColumn("fmt_part", F.col("fmt"))
    ice.write_table(df, root, partition_by="fmt_part")
    ice.write_table(df.limit(30), root, partition_by="fmt_part",
                    mode="overwrite")
    snap3 = ice.write_table(df.limit(5), root, partition_by="fmt_part",
                            mode="append")
    assert snap3["snapshot_id"] == 3
    # all three snapshots readable, each with its own row set
    assert ice.read_table(spark, root, snapshot_id=1).count() == 120
    assert ice.read_table(spark, root, snapshot_id=2).count() == 30
    assert ice.read_table(spark, root).count() == 35
    # snapshot 1's ids are the ORIGINAL rows, not the overwrite's
    ids1 = {r.image_id for r in
            ice.read_table(spark, root, snapshot_id=1)
            .select("image_id").collect()}
    assert len(ids1) == 120

    out = ice.expire_snapshots(root, keep_last=2)
    assert out["expired"] == [1] and out["deleted_files"] > 0
    with pytest.raises(FileNotFoundError):
        ice.read_table(spark, root, snapshot_id=1)
    # retained snapshots unaffected — snapshot 3 shares snap-2's files,
    # which expiry must have kept
    assert ice.read_table(spark, root, snapshot_id=2).count() == 30
    assert ice.read_table(spark, root).count() == 35
    # snap-1's data dir is gone from disk
    assert not os.path.isdir(os.path.join(root, "data", "snap-1"))


def test_iceberg_crash_recovery(spark, tmp_path):
    """ADVICE r2: a crash between the data write and the manifest commit
    must not wedge the table — and a crash between the manifest and the
    version-hint update must not make the next commit collide with
    committed data."""
    import json
    import os

    from spark_shp import iceberg_layout as ice
    from spark_shp.queries_spatial import _images_meta_df
    root = str(tmp_path / "tbl")
    df = _images_meta_df(spark, 50)
    ice.write_table(df, root)

    # crash BEFORE manifest: orphan data/snap-2 with no manifest
    orphan = os.path.join(root, "data", "snap-2")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-junk.parquet"), "wb").close()
    snap = ice.write_table(df.limit(7), root)      # must retry, not wedge
    assert snap["snapshot_id"] == 2
    assert ice.read_table(spark, root).count() == 7
    assert not os.path.exists(os.path.join(orphan, "part-junk.parquet"))

    # crash AFTER manifest but BEFORE hint: hint rolls back to 2 while
    # snap-3's manifest exists → next commit must take version 4, never 3
    ice.write_table(df.limit(5), root)             # commits snapshot 3
    hint = os.path.join(root, "metadata", "version-hint.text")
    with open(hint, "w") as f:
        f.write("2")
    snap4 = ice.write_table(df.limit(9), root)
    assert snap4["snapshot_id"] == 4
    assert ice.read_table(spark, root).count() == 9
    # snapshot 3's committed files stayed intact and time-travelable
    assert ice.read_table(spark, root, snapshot_id=3).count() == 5


def test_iceberg_cluster_by_and_data_skipping(spark, tmp_path):
    """cluster_by sorts files into tight cell ranges and scan_table prunes
    by manifest bounds: a narrow range query reads a strict subset of the
    files yet returns exactly the rows a full-scan filter returns."""
    from pyspark.sql import functions as F

    from spark_shp import iceberg_layout as ice
    root = str(tmp_path / "tbl")
    df = (spark.range(0, 100_000, numPartitions=16)
          .withColumn("cell", (F.col("id") * 2654435761 % 4096))
          .withColumn("payload", F.md5(F.col("id").cast("string"))))
    ice.write_table(df, root, cluster_by="cell")
    n_files = len(ice.table_stats(root)["files"])
    assert n_files > 1                         # multiple range partitions

    got, rep = ice.scan_table(spark, root, "cell", 100, 150)
    assert rep["files_skipped"] > 0
    assert rep["files_read"] < rep["files_total"]
    want = df.where(F.col("cell").between(100, 150))
    assert got.count() == want.count() > 0
    assert (got.agg(F.sum("id")).collect()[0][0]
            == want.agg(F.sum("id")).collect()[0][0])

    # unclustered write: bounds exist but overlap — scan still CORRECT
    root2 = str(tmp_path / "tbl2")
    ice.write_table(df, root2)
    got2, rep2 = ice.scan_table(spark, root2, "cell", 100, 150)
    assert got2.count() == want.count()
    # out-of-domain range prunes everything, returns empty with a schema
    got3, rep3 = ice.scan_table(spark, root, "cell", 10_000, 20_000)
    assert rep3["files_read"] == 0 and got3.count() == 0
    assert got3.columns == got.columns


def test_iceberg_compact_and_schema_evolution(spark, tmp_path):
    """compact() folds a many-small-file snapshot into few files with the
    same rows (old snapshot still time-travelable); a snapshot appended
    with a NEW column reads across snapshots with NULLs for the old files
    (schema-evolution read semantics)."""
    from pyspark.sql import functions as F

    from spark_shp import iceberg_layout as ice
    root = str(tmp_path / "tbl")
    df = (spark.range(0, 20_000, numPartitions=32)
          .withColumn("v", F.md5(F.col("id").cast("string"))))
    ice.write_table(df, root)                       # 32 small files
    before = len(ice.table_stats(root)["files"])
    rep = ice.compact(spark, root, target_file_mb=256)
    assert rep["files_after"] < before and rep["files_after"] >= 1
    assert ice.read_table(spark, root).count() == 20_000
    # snapshot 1 (pre-compaction) still reads its own file set
    assert ice.read_table(spark, root, snapshot_id=1).count() == 20_000

    # append with an extra column: union-by-name fills NULL for old files
    extra = (spark.range(20_000, 21_000, numPartitions=2)
             .withColumn("v", F.md5(F.col("id").cast("string")))
             .withColumn("lang", F.lit("en")))
    ice.write_table(extra, root, mode="append")
    cur = ice.read_table(spark, root)
    assert cur.count() == 21_000 and "lang" in cur.columns
    assert cur.where(F.col("lang").isNull()).count() == 20_000
    assert cur.where(F.col("lang") == "en").count() == 1_000


def test_scan_table_string_bounds_and_empty_side(spark, tmp_path):
    """Manifest bounds work for string columns (parquet stats decode as
    UTF-8), and a range that matches no file returns an empty frame with
    the right schema."""
    from pyspark.sql import functions as F

    from spark_shp import iceberg_layout as ice
    root = str(tmp_path / "tbl")
    df = (spark.range(0, 5_000, numPartitions=4)
          .withColumn("lang", F.element_at(
              F.array(F.lit("de"), F.lit("en"), F.lit("fr"), F.lit("pt")),
              (F.col("id") % 4 + 1).cast("int"))))
    ice.write_table(df, root, cluster_by="lang", cluster_partitions=4)
    got, rep = ice.scan_table(spark, root, "lang", "en", "en")
    assert got.count() == 1250
    assert rep["files_skipped"] >= 1
    got2, rep2 = ice.scan_table(spark, root, "lang", "zz", "zz")
    assert got2.count() == 0 and got2.columns == got.columns


def test_iceberg_merge_copy_on_write(spark, tmp_path):
    """MERGE (upsert) must rewrite ONLY the files whose key bounds contain
    an update key, carry every other file by name (byte-identical paths in
    both manifests), keep the pre-merge snapshot time-travelable, and
    produce exact upsert semantics — including an update batch whose
    [min, max] range spans every file but whose KEY SET touches one."""
    from spark_shp import iceberg_layout as ice

    root = str(tmp_path / "tbl")
    base = spark.range(0, 400).selectExpr("id AS k", "id * 10 AS v")
    s1 = ice.write_table(base, root, cluster_by="k", cluster_partitions=4)
    assert len(s1["files"]) == 4

    # keys 50..59 live in file 0's bounds; 1000 is outside every file —
    # the naive range check [50, 1000] would touch ALL files
    upd = spark.createDataFrame(
        [(k, k * 10 + 1) for k in range(50, 60)] + [(1000, 7)], "k: long, v: long")
    rep = ice.merge_table(spark, root, upd, "k")
    assert rep["files_rewritten"] == 1 and rep["files_carried"] == 3
    assert rep["total_rows"] == 401                      # 400 + 1 insert

    got = {r["k"]: r["v"] for r in ice.read_table(spark, root).collect()}
    assert len(got) == 401 and got[1000] == 7
    for k in range(50, 60):
        assert got[k] == k * 10 + 1                      # updated
    assert got[49] == 490 and got[60] == 600             # untouched

    # carried files appear by NAME in both manifests; time travel intact
    f1 = {f["path"] for f in ice.table_stats(root, s1["snapshot_id"])["files"]}
    f2 = {f["path"] for f in ice.table_stats(root)["files"]}
    assert len(f1 & f2) == 3
    old = {r["k"]: r["v"] for r in
           ice.read_table(spark, root, s1["snapshot_id"]).collect()}
    assert old[55] == 550 and 1000 not in old

    # duplicate update keys violate the CDC contract
    dup = spark.createDataFrame([(1, 1), (1, 2)], "k: long, v: long")
    try:
        ice.merge_table(spark, root, dup, "k")
        assert False, "expected ValueError on duplicate keys"
    except ValueError:
        pass

    # empty updates are a no-op commit
    rep0 = ice.merge_table(spark, root, upd.limit(0), "k")
    assert rep0.get("noop") is True


def test_iceberg_incremental_read(spark, tmp_path):
    """read_incremental returns exactly the rows appended between two
    snapshots (the CDC primitive), reads ONLY the added files, returns an
    empty frame for a no-op range, and refuses a range crossing a
    non-append snapshot where a file diff is not row-accurate."""
    import pytest
    from spark_shp import iceberg_layout as ice
    from spark_shp.queries_spatial import _images_meta_df
    root = str(tmp_path / "tbl")
    df = _images_meta_df(spark, 90)
    ice.write_table(df.where("image_id <= 'img000000000029'"), root)
    ice.write_table(
        df.where("image_id BETWEEN 'img000000000030' "
                 "AND 'img000000000059'"), root, mode="append")
    ice.write_table(df.where("image_id >= 'img000000000060'"), root,
                    mode="append")
    inc = ice.read_incremental(spark, root, from_snapshot=1)
    ids = sorted(r["image_id"] for r in inc.select("image_id").collect())
    assert len(ids) == 60 and ids[0] == "img000000000030"
    # only snapshot 2's delta
    inc12 = ice.read_incremental(spark, root, 1, 2)
    assert inc12.count() == 30
    # file-level: the added-file scan touches 2 of 3 commit dirs at most
    files = [f.filePath for f in inc.select(
        __import__("pyspark").sql.functions
        .input_file_name().alias("filePath")).distinct().collect()]
    assert all("snap-1" not in f for f in files)
    # no-op range -> empty frame with the table schema
    assert ice.read_incremental(spark, root, 3, 3).count() == 0
    # an overwrite inside the range breaks append semantics -> raise
    ice.write_table(df.limit(5), root)             # snapshot 4: overwrite
    with pytest.raises(ValueError, match="not 'append'"):
        ice.read_incremental(spark, root, 2)
    # ...unless the caller opts into added-files semantics
    assert ice.read_incremental(spark, root, 2, strict=False).count() == 5
    # unknown snapshot -> loud failure
    with pytest.raises(FileNotFoundError):
        ice.read_incremental(spark, root, 99)


def test_iceberg_partition_spec_evolution(spark, tmp_path):
    """Iceberg partition-spec evolution: snapshot 1 is partitioned by
    region, snapshot 2 (append) by day — old files keep the old layout,
    new files the new one, a snapshot read unions both specs with every
    partition column intact, and scan_table prunes each file by ITS OWN
    spec's manifest bounds: probing the old column skips only old-spec
    files (new-spec files carry no bounds for it — the safe
    necessary-condition fallback keeps them); probing the new column
    skips only new-spec files."""
    from spark_shp import iceberg_layout as il
    root = str(tmp_path / "tbl")
    d1 = spark.range(0, 400).selectExpr(
        "id", "CAST(id % 4 AS BIGINT) AS region",
        "CAST(id % 10 AS BIGINT) AS day")
    il.write_table(d1, root, partition_by="region")
    d2 = spark.range(400, 800).selectExpr(
        "id", "CAST(id % 4 AS BIGINT) AS region",
        "CAST(id % 10 AS BIGINT) AS day")
    snap2 = il.write_table(d2, root, partition_by="day", mode="append")

    # the spec history is recorded per metadata version
    import json
    import os
    m1 = json.load(open(os.path.join(root, "metadata/v1.metadata.json")))
    m2 = json.load(open(os.path.join(root, "metadata/v2.metadata.json")))
    assert m1["partition-spec"] == ["region"]
    assert m2["partition-spec"] == ["day"]

    # full read: both specs union, partition columns intact on every row
    got = il.read_table(spark, root).orderBy("id").collect()
    assert len(got) == 800
    assert all(r.region == r.id % 4 and r.day == r.id % 10 for r in got)

    # old-spec pruning: region=2 needs 1 of 4 snap-1 files, ALL snap-2
    # files (no region bounds there — never unsafely skipped)
    n1 = sum(1 for f in snap2["files"] if "/snap-1/" in f["path"])
    n2 = sum(1 for f in snap2["files"] if "/snap-2/" in f["path"])
    df, rep = il.scan_table(spark, root, "region", 2, 2)
    rows = df.collect()
    assert sorted({r.region for r in rows}) == [2]
    assert len(rows) == 200
    assert rep["files_read"] >= n2  # every new-spec file kept
    assert rep["files_skipped"] >= n1 // 2  # old-spec files pruned

    # new-spec pruning: day=3 skips snap-2 day-partitions, keeps snap-1
    df2, rep2 = il.scan_table(spark, root, "day", 3, 3)
    rows2 = df2.collect()
    assert sorted({r.day for r in rows2}) == [3]
    assert len(rows2) == 80
    assert rep2["files_read"] >= n1
    assert rep2["files_skipped"] >= n2 // 2


def test_iceberg_merge_on_read_deletes(spark, tmp_path):
    """Equality-delete files with Iceberg data-sequence semantics: deletes
    apply only to data files with a strictly lower seq, so re-inserted
    keys survive older deletes; delete files accumulate across appends,
    time travel replays each snapshot's own delete set, compact() folds
    everything into a clean overwrite, and copy-on-write merge refuses to
    run over un-folded deletes."""
    from spark_shp import iceberg_layout as ice
    root = str(tmp_path / "tbl")

    def df_of(*keys):
        return spark.createDataFrame(
            [(int(k), f"cap-{k}") for k in keys], "image_id long, cap string")

    ice.write_table(df_of(1, 2, 3), root)                       # snap 1
    d = ice.delete_where(spark, root, df_of(2), "image_id")     # snap 2
    assert d["operation"] == "delete" and d["snapshot_id"] == 2
    assert sorted(r["image_id"] for r in
                  ice.read_table(spark, root).collect()) == [1, 3]
    # time travel to snap 1 still sees the deleted key
    assert sorted(r["image_id"] for r in
                  ice.read_table(spark, root, 1).collect()) == [1, 2, 3]

    # re-insert key 2 plus a new key: appended files outrank the delete
    ice.write_table(df_of(2, 4), root, mode="append")           # snap 3
    assert sorted(r["image_id"] for r in
                  ice.read_table(spark, root).collect()) == [1, 2, 3, 4]

    # a second delete hits old AND new files (higher seq than both)
    ice.delete_where(spark, root, df_of(1, 4), "image_id")      # snap 4
    assert sorted(r["image_id"] for r in
                  ice.read_table(spark, root).collect()) == [2, 3]

    # scan_table applies deletes through the file-skipping path too
    got, rep = ice.scan_table(spark, root, "image_id", 0, 10)
    assert sorted(r["image_id"] for r in got.collect()) == [2, 3]

    # copy-on-write merge refuses un-folded deletes
    import pytest as _pytest
    with _pytest.raises(ValueError, match="merge-on-read delete files"):
        ice.merge_table(spark, root, df_of(3), "image_id")

    # compact folds the deletes: clean overwrite snapshot, same live rows
    rep = ice.compact(spark, root)
    snap = ice.table_stats(root)
    assert "delete_files" not in snap
    assert snap["total_rows"] == 2
    assert sorted(r["image_id"] for r in
                  ice.read_table(spark, root).collect()) == [2, 3]
    # pre-compact snapshots still time-travel with their delete sets
    assert sorted(r["image_id"] for r in
                  ice.read_table(spark, root, 3).collect()) == [1, 2, 3, 4]
    # and the merge works after folding
    ice.merge_table(spark, root, df_of(3), "image_id")
    assert sorted(r["image_id"] for r in
                  ice.read_table(spark, root).collect()) == [2, 3]

    # expiry GCs delete parquet files once no retained snapshot needs them
    import glob as _glob
    n_before = len(_glob.glob(f"{root}/data/snap-*/*.parquet"))
    ice.expire_snapshots(root, keep_last=1)
    n_after = len(_glob.glob(f"{root}/data/snap-*/*.parquet"))
    assert n_after < n_before
    assert sorted(r["image_id"] for r in
                  ice.read_table(spark, root).collect()) == [2, 3]


def test_iceberg_rollback(spark, tmp_path):
    """rollback_to commits the old snapshot's exact file set (including
    delete files with their sequence numbers) as a NEW snapshot — zero
    data I/O; history including the rolled-back-over snapshot stays
    time-travelable."""
    from spark_shp import iceberg_layout as ice
    root = str(tmp_path / "tbl")

    def df_of(*keys):
        return spark.createDataFrame(
            [(int(k), f"c{k}") for k in keys], "image_id long, cap string")

    ice.write_table(df_of(1, 2, 3), root)                     # snap 1
    ice.delete_where(spark, root, df_of(2), "image_id")       # snap 2
    ice.write_table(df_of(9), root, mode="append")            # snap 3
    assert sorted(r["image_id"] for r in
                  ice.read_table(spark, root).collect()) == [1, 3, 9]

    rb = ice.rollback_to(root, 2)                             # snap 4
    assert rb["operation"] == "rollback" and rb["snapshot_id"] == 4
    # current state == snapshot 2's state (delete applied, no key 9)
    assert sorted(r["image_id"] for r in
                  ice.read_table(spark, root).collect()) == [1, 3]
    # the rolled-back-over snapshot is still time-travelable
    assert sorted(r["image_id"] for r in
                  ice.read_table(spark, root, 3).collect()) == [1, 3, 9]
    # appends continue cleanly from the rollback point
    ice.write_table(df_of(5), root, mode="append")            # snap 5
    assert sorted(r["image_id"] for r in
                  ice.read_table(spark, root).collect()) == [1, 3, 5]
