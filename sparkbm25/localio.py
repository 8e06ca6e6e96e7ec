"""Driver-side pyarrow reads of an index root: the one reader behind
every point read of the interactive Searcher and search_batch's idf
map, multi-term expansion and top-k resolve.

The interactive Searcher's per-query work is a handful of point reads:
the pruned posting fetch of a few terms, the (term, n_docs) df probe,
and the forward-row resolve of <= a few thousand doc_ords; a
structured predicate reads its filter columns of every forward row
once per reader binding. Routing those through a Spark job pays
scheduler latency plus a py4j collect of the block blobs on every cold
query — measured at 960k turns the job+collect is 0.25-1.1 s per cold
query while the same pruned read through pyarrow.dataset is 7-120 ms
(guide §1.2: fix the shape before the constants; a point lookup does
not need a cluster job, the same way the reference's ES client GETs a
document without running a distributed search). The reads keep
Spark's pruning: term_bucket= / doc_block= hive directories and
rowgroup-statistics pushdown.

Index roots are local paths. The catalog commits with os.rename, lists
generations with os.listdir and reads stats.json with open(), so a
root with a URI scheme, or a bare path that Spark would resolve
against a non-local fs.defaultFS, can be neither built nor opened;
`require_local_root` refuses both before a build touches disk. On a
real cluster the analog is the driver reading the hot metadata tier
through the filesystem client instead of scheduling a job per query —
the bytes moved are identical. The distributed reads (search_batch's
range job and its predicate leg over catalog.read_docs, compaction)
stay on Spark.

`IndexReader` is bound once per generation set (Searcher binds it at
construction and on refresh()). Dataset objects cache per directory (a
dataset holds the file listing + parquet footers); they carry no row
data, so this is metadata caching, not result caching: every query
still reads its postings from parquet.
"""

from __future__ import annotations

import os
import re

from sparkbm25 import catalog

_SCHEME = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")


def local_path(path: str) -> str | None:
    """Plain filesystem path when `path` is local (bare or file: URI),
    else None."""
    if path.startswith("file://"):
        rest = path[len("file://"):]
        # file://host/p is remote unless host is empty/localhost
        if rest.startswith("/"):
            return rest
        host, _, p = rest.partition("/")
        if host in ("", "localhost"):
            return "/" + p
        return None
    if path.startswith("file:"):
        return path[len("file:"):]
    if _SCHEME.match(path):
        return None
    return path


def require_local_root(spark, root: str) -> None:
    """Raise ValueError naming `root` unless the catalog can commit to
    it: a bare path (no URI scheme) under a local fs.defaultFS, which
    is where Spark's writes of a bare path land. Reads the Hadoop conf
    only; the filesystem is never contacted."""
    if local_path(root) != root:
        raise ValueError(
            f"index root {root!r} has a URI scheme; index roots are "
            "local filesystem paths")
    fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    if fs and not fs.startswith("file:"):
        raise ValueError(
            f"index root {root!r} would resolve against fs.defaultFS="
            f"{fs}; index roots are local filesystem paths")


def _parquet_files(directory: str) -> list[str]:
    try:
        names = os.listdir(directory)
    except (FileNotFoundError, NotADirectoryError):
        return []
    return sorted(
        os.path.join(directory, f) for f in names
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def partition_dirs(root: str, key: str) -> dict[int, list[str]]:
    """Map partition value -> directories named `key=<value>` under
    `root`, looking one level deep and below single-level intermediate
    hive dirs (the segment tree is segments/chunk=N/term_bucket=B/,
    the docs tree docs/doc_block=B/)."""
    out: dict[int, list[str]] = {}
    prefix = key + "="
    try:
        level1 = sorted(os.listdir(root))
    except (FileNotFoundError, NotADirectoryError):
        return out
    for name in level1:
        p = os.path.join(root, name)
        if name.startswith(prefix):
            out.setdefault(int(name[len(prefix):]), []).append(p)
        elif "=" in name and os.path.isdir(p):
            for sub in sorted(os.listdir(p)):
                if sub.startswith(prefix):
                    out.setdefault(int(sub[len(prefix):]), []).append(
                        os.path.join(p, sub))
    return out


class LocalParquetIndex:
    """Pruned pyarrow reads over ONE hive-partitioned parquet tree,
    with the files' Arrow `schema` when given (None = each
    directory's own).

    Caches the partition-dir map and per-directory datasets (file
    listing + footers); rows are read per call."""

    def __init__(self, root: str, key: str, schema=None):
        self.root = root
        self.key = key
        self.schema = schema
        self._dirs: dict[int, list[str]] | None = None
        self._datasets: dict[str, object] = {}

    def dirs(self) -> dict[int, list[str]]:
        if self._dirs is None:
            self._dirs = partition_dirs(self.root, self.key)
        return self._dirs

    def _dataset(self, directory: str):
        ds = self._datasets.get(directory)
        if ds is None:
            import pyarrow.dataset as pads

            files = _parquet_files(directory)
            if not files:
                return None
            ds = pads.dataset(files, format="parquet", schema=self.schema)
            self._datasets[directory] = ds
        return ds

    def read(self, partitions: list[int] | None, columns: list[str],
             filter=None):
        """Concatenated pyarrow Table over the given partition values
        (None = all), column-pruned and filtered (rowgroup statistics
        prune exactly like Spark's parquet pushdown)."""
        import pyarrow as pa

        dmap = self.dirs()
        keys = sorted(dmap) if partitions is None else [
            b for b in partitions if b in dmap]
        tables = []
        for b in keys:
            for d in dmap[b]:
                ds = self._dataset(d)
                if ds is None:
                    continue
                cols = [c for c in columns if c in ds.schema.names]
                tables.append(ds.to_table(columns=cols, filter=filter))
        if not tables:
            return None
        return pa.concat_tables(tables, promote_options="default")

    def count_rows(self) -> int:
        """Total rows from parquet footers (no data read)."""
        total = 0
        for dirs in self.dirs().values():
            for d in dirs:
                ds = self._dataset(d)
                if ds is not None:
                    total += ds.count_rows()
        return total

    def schema_names(self) -> list[str]:
        for dirs in self.dirs().values():
            for d in dirs:
                ds = self._dataset(d)
                if ds is not None:
                    return list(ds.schema.names) + [self.key]
        return []


def _naive_micros(table):
    """Match Spark's collect() rendering of TimestampType (naive
    datetimes in the UTC session timezone this engine pins): a
    Spark-written timestamp column reads as UTC-annotated micros, as
    INT96 nanos (session-zone input) or as naive micros
    (TIMESTAMP_NTZ input), and generations of one root may differ.
    Every one casts to naive micros; values are unchanged (Spark
    timestamps are whole micros, and a lossy cast would raise)."""
    import pyarrow as pa

    us = pa.timestamp("us")
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type) and f.type != us:
            table = table.set_column(i, pa.field(f.name, us),
                                     table.column(i).cast(us))
    return table


def _concat(tables: list, cols: list[str]):
    """One table of exactly `cols` from per-generation reads (None for
    a generation with no files): a column some generation lacks reads
    NULL there, and NULL everywhere when no generation read has it."""
    import pyarrow as pa

    tables = [_naive_micros(t) for t in tables if t is not None]
    tb = (pa.concat_tables(tables, promote_options="default")
          if tables else pa.table({}))
    for c in cols:
        if c not in tb.column_names:
            tb = tb.append_column(c, pa.nulls(tb.num_rows))
    return tb.select(cols)


class IndexReader:
    """Every driver-side read of one generation set: the segment trees
    (term_bucket routing + term pushdown) and the forward tables
    (doc_block routing + doc_ord pushdown) of all generations, each
    read through its own LocalParquetIndex and concatenated, plus the
    term dictionaries (row-group pruned term scans)."""

    def __init__(self, gen_dirs: list[str], cfg):
        from sparkbm25.build import segment_pa_schema

        self._gen_dirs = gen_dirs
        self._bucket_of = cfg.term_bucket_of
        self._doc_block_size = cfg.doc_block_size
        # segment files read with the known schema: a file an older
        # release wrote carries a per-block score bound this release
        # dropped, which the cast leaves out, so generations of either
        # release concatenate
        seg_schema = segment_pa_schema(cfg.store_positions)
        self._segs = [LocalParquetIndex(catalog.segments_dir(g), "term_bucket",
                                        seg_schema)
                      for g in gen_dirs]
        self._docs = [LocalParquetIndex(catalog.docs_dir(g), "doc_block")
                      for g in gen_dirs]
        self._columns: list[str] | None = None
        self._dicts: list | None = None

    def segments(self, terms: list[str] | None, cols: list[str]):
        """Segment rows of `terms` (None = every row), `cols` only."""
        import pyarrow.compute as pc

        parts = filt = None
        if terms is not None:
            parts = sorted({self._bucket_of(t) for t in terms})
            filt = pc.field("term").isin(list(terms))
        return _concat([ix.read(parts, cols, filter=filt)
                        for ix in self._segs], cols)

    def segment_rows(self) -> int:
        """Segment rows of every generation, from parquet footers."""
        return sum(ix.count_rows() for ix in self._segs)

    def dfs(self, terms: list[str] | None = None) -> dict[str, int]:
        """df per term (summed per-salt, per-generation n_docs) of
        `terms` (None = the whole dictionary); absent terms omitted."""
        tb = self.segments(terms, ["term", "n_docs"])
        if tb.num_rows == 0:
            return {}
        agg = tb.group_by("term").aggregate([("n_docs", "sum")])
        return dict(zip(agg.column("term").to_pylist(),
                        agg.column("n_docs_sum").to_pylist()))

    def terms(self, filter):
        """Record batches of the `term` column matching `filter`, read
        from every generation's term-sorted dictionary (terms/), so a
        term-range filter prunes row groups by their statistics. When
        any generation has no dictionary (build_terms_dict=False) the
        segment rows of every generation stand in; there a term repeats
        per salt, and in both a term repeats per generation."""
        if self._dicts is None:
            import pyarrow.dataset as pads

            files = [_parquet_files(catalog.terms_dir(g))
                     for g in self._gen_dirs]
            self._dicts = ([pads.dataset(f, format="parquet") for f in files]
                           if all(files) else [])
        if self._dicts:
            for ds in self._dicts:
                yield from ds.to_batches(columns=["term"], filter=filter)
            return
        tb = self.segments(None, ["term"])
        if tb.num_rows:
            yield from tb.filter(filter).to_batches()

    def docs(self, ords: list[int] | None, cols: list[str]):
        """Forward rows of `ords` (None = every row), `cols` only
        (attribute columns a generation lacks read NULL; timestamps
        naive UTC)."""
        import pyarrow.compute as pc

        parts = filt = None
        if ords is not None:
            parts = sorted({o // self._doc_block_size for o in ords})
            filt = pc.field("doc_ord").isin(list(ords))
        return _concat([ix.read(parts, cols, filter=filt)
                        for ix in self._docs], cols)

    def columns(self) -> list[str]:
        """Forward-table columns of ALL generations (plus doc_block)."""
        if self._columns is None:
            names: list[str] = []
            for ix in self._docs:
                names += [c for c in ix.schema_names() if c not in names]
            self._columns = names
        return self._columns
