"""The generation lifecycle every persisted index family shares (main,
fielded, trigram, LSH/IVF/IVF-PQ vector).

Generations. Every data row carries a `gen` long: 0 at build, the next
generation for each batch of appended rows. A delete writes (id, gen)
tombstones, `gen` being the LAST DEAD generation. The one rule, in
`live_rows`: a row is dead iff some tombstone for its id has
tombstone.gen >= row.gen. So re-adding an id after a delete (the replace
flow) shows only the new rows, and a compaction that drops dead rows
keeps every survivor's gen: leftover tombstones then kill nothing live.

Commits. A writer never edits a live table in place. It `stage`s each
table it rewrites, and each batch of rows it appends (`append=True`),
under `<root>/_staged/`, then `publish`es:

1. create `_staged/_COMMIT`, the commit record;
2. move each staged append's data files into its live table;
3. per rewritten table, rename the live table to `_aside/<name>`, then
   the staged copy in;
4. delete `_aside/`, then `_staged/` (the commit record goes last).

`recover`, which every writer runs first, finishes what a dead writer
left: with a commit record it rolls the publish forward (every step is
idempotent); without one it deletes the staged debris, and the live
tables still hold the old state. Loaders call `check_committed`, which
refuses an interrupted publish and names `recover`.

Single-writer assumption: two concurrent writers on one index clear
each other's staged tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io_codec import INDEX_CODEC

STAGED = "_staged"
ASIDE = "_aside"
COMMIT = "_COMMIT"
APPEND_SUFFIX = ".append"


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p, _ = _fs(spark, path)
    return bool(fs.exists(p))


def delete_path(spark: SparkSession, path: str) -> None:
    fs, p, _ = _fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def rename_path(spark: SparkSession, src: str, dst: str) -> None:
    """Rename, raising on failure: Hadoop FileSystem.rename returns False
    instead of throwing (missing dst parent, cross-filesystem move), and
    a silently ignored False would strand the data at `src`."""
    fs, p_src, jvm = _fs(spark, src)
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(dst).getParent())
    if not fs.rename(p_src, jvm.org.apache.hadoop.fs.Path(dst)):
        raise RuntimeError(
            f"rename {src} -> {dst} failed (FileSystem.rename returned "
            f"false); data preserved at {src}")


def claim_path(spark: SparkSession, src: str, dst: str) -> None:
    """Atomic rename that THROWS if `dst` exists (FileContext.rename, no
    OVERWRITE). FileSystem.rename cannot claim: into an existing
    directory it moves `src` inside and returns true."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        hpath(dst).toUri(), spark._jsc.hadoopConfiguration())
    fc.rename(hpath(src), hpath(dst), spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.Rename, 0))


def read_tombstones(spark: SparkSession, path: str,
                    schema: str | None = None) -> DataFrame | None:
    """The tombstone table at `path` (read with `schema` when the caller
    knows it, which spares the read its schema-inference job); None only
    when the directory is missing. Any other read failure raises: mapping
    it to "no deletes" would silently resurrect deleted rows."""
    if not path_exists(spark, path):
        return None
    return (spark.read.schema(schema) if schema else spark.read).parquet(path)


def live_rows(df: DataFrame, tombs: DataFrame | None,
              id_col: str) -> DataFrame:
    """Rows of `df` (which carries `gen`) that no tombstone kills. The
    per-id newest tombstone rides a broadcast join — the tombstone set is
    small between compactions — so `df` is never shuffled."""
    if tombs is None:
        return df
    newest = tombs.groupBy(id_col).agg(F.max("gen").alias("_tgen"))
    return (df.join(F.broadcast(newest), on=id_col, how="left")
            .where(F.col("_tgen").isNull() | (F.col("gen") > F.col("_tgen")))
            .drop("_tgen"))


def write_table(df: DataFrame, path: str, partition_by: str | None) -> None:
    w = df.write.option("compression", INDEX_CODEC).mode("overwrite")
    (w.partitionBy(partition_by) if partition_by else w).parquet(path)


def _staged(root: str, name: str, append: bool = False) -> str:
    return f"{root}/{STAGED}/{name}{APPEND_SUFFIX if append else ''}"


def stage(spark: SparkSession, root: str, name: str, df: DataFrame,
          partition_by: str | None = None, append: bool = False) -> None:
    """Write `df` as the next version of table `name`, or (`append`) as
    rows to add to it. Readers see nothing of it until `publish`."""
    write_table(df, _staged(root, name, append), partition_by)


def with_staged(spark: SparkSession, root: str, name: str,
                live: DataFrame | None) -> DataFrame | None:
    """`live` plus the rows this writer staged for append to `name`: the
    table as it will read after `publish`."""
    path = _staged(root, name, append=True)
    if not path_exists(spark, path):
        return live
    if live is None:
        return spark.read.parquet(path)
    # the live schema spares the read its schema-inference job
    return live.unionByName(spark.read.schema(live.schema).parquet(path))


def _move_files(spark: SparkSession, src: str, dst: str) -> None:
    """Move staged append `src` into live table `dst`, one rename per
    data file (markers like _SUCCESS stay), so a re-run moves the rest."""
    if not path_exists(spark, dst):
        rename_path(spark, src, dst)
        return
    fs, p, jvm = _fs(spark, src)
    hpath = jvm.org.apache.hadoop.fs.Path  # resolved once: py4j round trips
    base = len(fs.makeQualified(p).toString().rstrip("/")) + 1
    files, it = [], fs.listFiles(p, True)
    while it.hasNext():
        f = it.next().getPath()
        if not f.getName().startswith(("_", ".")):
            files.append(f)
    for f in files:
        target = hpath(f"{dst}/{f.toString()[base:]}")
        fs.mkdirs(target.getParent())
        if not fs.rename(f, target):
            raise RuntimeError(f"rename {f.toString()} -> {target.toString()} "
                               "failed; the next writer's recover retries it")
    delete_path(spark, src)


def _roll_forward(spark: SparkSession, root: str) -> None:
    fs, p, _ = _fs(spark, f"{root}/{STAGED}")
    names = sorted(st.getPath().getName() for st in fs.listStatus(p))
    for name in names:
        if name.endswith(APPEND_SUFFIX):
            _move_files(spark, f"{root}/{STAGED}/{name}",
                        f"{root}/{name[:-len(APPEND_SUFFIX)]}")
    for name in names:
        if name != COMMIT and not name.endswith(APPEND_SUFFIX):
            live, aside = f"{root}/{name}", f"{root}/{ASIDE}/{name}"
            if path_exists(spark, live):
                delete_path(spark, aside)
                rename_path(spark, live, aside)
            rename_path(spark, _staged(root, name), live)
    delete_path(spark, f"{root}/{ASIDE}")
    delete_path(spark, f"{root}/{STAGED}")


def publish(spark: SparkSession, root: str) -> None:
    """Make everything staged under `root` live, all or nothing: once the
    commit record exists, `recover` finishes the publish."""
    fs, _, jvm = _fs(spark, root)
    fs.create(jvm.org.apache.hadoop.fs.Path(_staged(root, COMMIT)),
              True).close()
    _roll_forward(spark, root)


def interrupted(spark: SparkSession, root: str) -> bool:
    """A publish began (commit record present) and did not finish."""
    return path_exists(spark, _staged(root, COMMIT))


def check_committed(spark: SparkSession, root: str) -> None:
    """Loader guard: refuse an index whose publish was interrupted."""
    if interrupted(spark, root):
        raise RuntimeError(
            f"index at {root} holds an interrupted table swap "
            f"({STAGED}/{COMMIT} present): retry, or if no writer is "
            f"running, run lifecycle.recover(spark, {root!r}); the next "
            f"write to the index runs it too")


def recover(spark: SparkSession, root: str) -> None:
    """Roll an interrupted publish forward, or delete what a writer that
    died before publishing staged. A no-op on a clean index."""
    if interrupted(spark, root):
        _roll_forward(spark, root)
    else:
        delete_path(spark, f"{root}/{ASIDE}")
        delete_path(spark, f"{root}/{STAGED}")


def replace_tables(spark: SparkSession, root: str,
                   tables: dict[str, tuple[DataFrame, str | None]]) -> None:
    """Rewrite tables of an existing index in one commit: `tables` maps a
    name to (new contents, partition column or None)."""
    recover(spark, root)
    for name, (df, part) in tables.items():
        stage(spark, root, name, df, part)
    publish(spark, root)


def fold_tombstones(spark: SparkSession, root: str, tombstones: str,
                    tables: dict[str, str | None], id_col: str,
                    shape=None) -> bool:
    """Compaction: rewrite `tables` (name -> partition column) without
    the rows the tombstone table `tombstones` kills, in one commit, then
    delete the tombstones LAST (applying them to folded tables changes
    nothing). Generations are preserved; `shape(name, df)` may re-layout
    a table first. False, and nothing written, without tombstones."""
    recover(spark, root)
    tombs = read_tombstones(spark, f"{root}/{tombstones}")
    if tombs is None:
        return False
    replace_tables(spark, root, {
        name: ((shape or (lambda _, df: df))(
            name, live_rows(spark.read.parquet(f"{root}/{name}"), tombs,
                            id_col)), part)
        for name, part in tables.items()})
    delete_path(spark, f"{root}/{tombstones}")
    return True
