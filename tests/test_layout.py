"""Z-order layout tests: the Morton key interleaves correctly, and —
the point of the operator — a 2-dimensional box predicate over a
Z-ordered table touches far fewer files than over a 1-column-sorted
table of the same file count."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.operators.layout import write_zordered, zorder_key
from crawler_spark.session import scoped_conf

N_FILES = 16


def test_morton_key_interleaves_bits(spark):
    rows = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "a long, b long"
    ).select(zorder_key(F.col("a"), F.col("b")).alias("z")).collect()

    def morton(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert [r.z for r in rows] == [
        morton(0, 0), morton(1, 0), morton(0, 1), morton(3, 5),
        morton(65535, 65535)]


def _files_touched(spark, path, pred):
    df = spark.read.parquet(path).where(pred)
    return df.select(F.input_file_name()).distinct().count()


def test_box_predicate_prunes_files_vs_single_sort(spark, tmp_path):
    # two independent uniform dims; a small box in (x, y)
    df = (
        spark.range(40_000)
        .select(
            F.col("id"),
            (F.xxhash64("id") % 10_000).alias("x"),
            (F.xxhash64(F.col("id") + 1) % 10_000).alias("y"),
        )
        .select("id", F.abs("x").alias("x"), F.abs("y").alias("y"))
    )
    z_path = str(tmp_path / "zorder")
    s_path = str(tmp_path / "xsort")
    write_zordered(df, z_path, "x", "y", n_files=N_FILES)
    (
        df.repartitionByRange(N_FILES, "x").sortWithinPartitions("x")
        .write.parquet(s_path)
    )
    box = (F.col("x").between(1000, 2000)) & (F.col("y").between(1000, 2000))
    z_files = _files_touched(spark, z_path, box)
    s_files = _files_touched(spark, s_path, box)
    # row selectivity is ~1%; single-sort prunes on x only (~1-2 of 16
    # by x), but every x-file spans all y. The z-layout keeps BOTH dims
    # tight per file. (input_file_name counts files with matching ROWS —
    # a strict lower bound on the stats-pruning win.)
    assert z_files < s_files, (z_files, s_files)
    # and the data round-trips completely
    assert spark.read.parquet(z_path).count() == 40_000


def test_zorder_file_membership_deterministic(spark, tmp_path):
    """The round-10 rewrite's contract: same input ⇒ byte-identical
    file membership, regardless of shuffle partitioning — the property
    that makes `layout_zorder_build` regression-pinnable and table
    rebuilds reproducible (repartitionByRange's sampled boundaries,
    the previous implementation, failed exactly this)."""
    df = spark.range(20_000).select(
        "id",
        F.abs(F.xxhash64("id") % 5_000).alias("x"),
        F.abs(F.xxhash64(F.col("id") + 7) % 5_000).alias("y"),
    )

    def membership(path: str) -> set[frozenset]:
        rows = (
            spark.read.parquet(path)
            .select(F.input_file_name().alias("f"), "id")
            .collect()
        )
        by_file: dict[str, set] = {}
        for r in rows:
            by_file.setdefault(r.f, set()).add(r.id)
        return {frozenset(v) for v in by_file.values()}

    a_path, b_path = str(tmp_path / "za"), str(tmp_path / "zb")
    for path, parts in ((a_path, "8"), (b_path, "13")):
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            write_zordered(df, path, "x", "y", n_files=8)
    a, b = membership(a_path), membership(b_path)
    assert a == b
    assert len(a) == 8


def test_zorder_preserves_rows_exactly(spark, tmp_path):
    df = spark.range(5_000).select(
        "id", (F.col("id") * 7 % 100).alias("x"), (F.col("id") * 13 % 100).alias("y"))
    p = str(tmp_path / "z")
    write_zordered(df, p, "x", "y", n_files=4)
    back = spark.read.parquet(p)
    assert back.count() == 5_000
    assert {r.id for r in back.collect()} == set(range(5_000))


class TestCompaction:
    def test_compact_preserves_rows_and_reduces_files(self, spark, tmp_path):
        from crawler_spark.operators.layout import compact_files
        from crawler_spark.sources import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
            "event_id", "user_id")
        frag = str(tmp_path / "frag")
        ev.repartition(32).write.parquet(frag)
        stats = compact_files(
            spark, frag, str(tmp_path / "out"), target_bytes=1 << 30)
        assert stats["files_before"] == 32
        assert stats["files_after"] == 1
        assert stats["rows"] == ev.count()
        # row multiset identical, not just counts
        a = sorted(r.event_id for r in spark.read.parquet(frag).collect())
        b = sorted(r.event_id
                   for r in spark.read.parquet(str(tmp_path / "out")).collect())
        assert a == b

    def test_target_bytes_splits_output(self, spark, tmp_path):
        """total/target governs the output file count."""
        from crawler_spark.operators.layout import compact_files
        from crawler_spark.sources import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        frag = str(tmp_path / "frag")
        ev.repartition(16).write.parquet(frag)
        import os
        total = sum(
            os.path.getsize(os.path.join(frag, f))
            for f in os.listdir(frag) if f.endswith(".parquet"))
        stats = compact_files(
            spark, frag, str(tmp_path / "out"), target_bytes=max(total // 4, 1))
        assert 2 <= stats["files_after"] <= 8
