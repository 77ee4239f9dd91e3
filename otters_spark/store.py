"""Vector + metadata stores backed by DataFrames / Parquet.

Re-expresses the reference's three data abstractions (SURVEY.md §1.1):

* ``VecStore`` (otters src/vec.rs:338-344) — here a DataFrame with an
  ``array<float>`` column, a row-id column, and a precomputed
  ``__inv_norm`` double column (the reference precomputes inverse L2
  norms at ingest, src/vec.rs:365-368).
* ``Column`` (src/col.rs:22-28) — a plain DataFrame field; Spark columns
  are natively nullable, so the BitVec-mask + sentinel scheme disappears.
* ``MetaStore`` (src/meta.rs:49-60) — a single DataFrame holding
  metadata columns plus the vector column, persisted as Parquet.

The reference's chunk/zonemap/bloom "index" (src/meta.rs:203-281,
src/meta_compute.rs:32-132) maps onto what Parquet + Catalyst already
provide: row-group min/max statistics = zonemaps, Parquet bloom filters
= per-chunk string blooms, ``sortWithinPartitions`` at write time = the
README's "sort by filter columns" pruning advice (README.md:154,184-186).
``MetaStore.save`` applies all three; nothing is reimplemented.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.types import _make_type_verifier

from .errors import StoreBuildError
from .expr import _schema_dtypes
from .functions.vector import inv_norm_expr

__all__ = [
    "VecStore",
    "MetaStore",
    "INV_NORM_COL",
    "with_row_index",
    "parse_datetime_column",
]

INV_NORM_COL = "__inv_norm"
_MANIFEST = "_otters_manifest.json"


def with_row_index(df: DataFrame, name: str = "vec_id") -> DataFrame:
    """Attach a 0-based dense row index — WITHOUT a global sort.

    Parity helper for the reference's implicit positional row ids
    (src/meta_compute.rs:184-187). zipWithIndex-style partition-offset
    assignment: the input is pinned with an eager ``localCheckpoint``
    (so the counting job and the indexing job see the SAME partitions
    in the same order), per-partition row counts are collected (one
    tiny map-side-combined aggregate — #partitions rows), cumulative
    offsets go back out as a broadcast-sized ``CASE`` map, and each
    row's dense id is ``offset[pid] + seq`` where ``pid``/``seq`` are
    the partition id and within-partition record number that
    ``monotonically_increasing_id`` encodes in its upper-31/lower-33
    bits. No shuffle of the data, no ``Window.orderBy`` over an
    unpartitioned frame — every partition indexes itself in parallel.
    Data that already carries a key should still prefer ``id_col=...``
    (skips the checkpoint materialization entirely).
    """
    pinned = df.localCheckpoint(eager=True)
    counts = (
        pinned.select(F.spark_partition_id().alias("__pid"))
        .groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    sizes = {r["__pid"]: r["__n"] for r in counts}
    if not sizes:
        return pinned.withColumn(name, F.lit(None).cast("long"))
    offsets: dict[int, int] = {}
    acc = 0
    for p in sorted(sizes):
        offsets[p] = acc
        acc += sizes[p]
    mid = F.monotonically_increasing_id()
    pid = F.shiftright(mid, 33)
    seq = mid.bitwiseAND(F.lit((1 << 33) - 1))
    off = F.create_map(
        *[
            lit
            for p in sorted(offsets)
            for lit in (F.lit(p).cast("long"), F.lit(offsets[p]))
        ]
    )[pid]
    return pinned.withColumn(name, (off + seq).cast("long"))


#: SQL literal suffix per integral id type, so the rendered IN list
#: already has the column's type and analysis inserts no casts
_INT_SUFFIX = {T.ByteType: "Y", T.ShortType: "S", T.IntegerType: "", T.LongType: "L"}


def _sql_in_list(ids: list, id_type: T.DataType) -> str | None:
    """SQL text of an ``IN (...)`` list for verified integral or
    string ids; None for other id types. Strings go through a UTF-8
    hex literal, so no quoting or escape setting
    (``spark.sql.parser.escapedStringLiterals``) can change them; the
    cast constant-folds back to a plain string literal."""
    suffix = _INT_SUFFIX.get(type(id_type))
    if suffix is not None:
        return ", ".join(f"{v}{suffix}" for v in ids)
    if isinstance(id_type, T.StringType):
        return ", ".join(f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)" for v in ids)
    return None


@dataclass
class BuildStats:
    """Analog of the reference's ``MetaBuildStats`` (src/meta.rs:844-852):
    what the store build did and how long it took. ``chunks`` maps to
    output partition count (the engine's chunk unit)."""

    rows: int
    chunks: int
    elapsed_sec: float


def parse_datetime_column(
    df: DataFrame,
    column: str,
    fmt: str | None = None,
    strict: bool = True,
) -> DataFrame:
    """Parse a string column to timestamps, with the REFERENCE's error
    semantics: an unparseable non-null string is a hard engine error
    with sample values (otters src/col.rs:524-526); ``strict=False``
    yields NULL on failure. Built on ``try_to_timestamp`` so the
    behavior is identical under ANSI and legacy modes (plain
    ``to_timestamp`` throws a raw CAST_INVALID_INPUT under Spark 4's
    default ANSI mode, NULLs under legacy).

    The strict check is one filter over the parse expression; at scale
    this is a single extra pass, the price of fail-fast ingest.
    """
    parsed = (
        F.try_to_timestamp(F.col(column), F.lit(fmt))
        if fmt
        else F.try_to_timestamp(F.col(column))
    )
    out = df.withColumn(column, parsed)
    if strict:
        bad = df.filter(F.col(column).isNotNull() & parsed.isNull())
        sample = bad.select(column).limit(3).collect()
        if sample:
            vals = [r[column] for r in sample]
            raise StoreBuildError(
                f"unparseable datetime strings in {column!r} (e.g. {vals}); "
                "reference errors on parse failure (src/col.rs:524-526) — "
                "pass strict=False for NULL-on-failure"
            )
    return out


class VecStore:
    """Dense vector collection with precomputed inverse norms.

    Reference: ``VecStore`` src/vec.rs:338-411. Construction validates
    dimensions (eagerly, unlike the reference's per-query check — cheap
    at build, saves a failed job later) and adds ``__inv_norm``.
    """

    def __init__(self, df: DataFrame, vec_col: str, id_col: str, dim: int | None):
        self.df = df
        self.vec_col = vec_col
        self.id_col = id_col
        self.dim = dim
        # reference keeps last build/query stats on the store for the
        # stats printers (src/meta.rs:547-565)
        self.last_build_stats = None
        self.last_query_stats = None
        self._zonemap_cache: list[dict] | None | bool = False  # False = unread

    def row_group_zonemaps(self) -> list[dict] | None:
        """Per-ROW-GROUP (min, max) stats of the store's Parquet files —
        the engine's literal zonemap table (reference chunk ≈ Parquet
        row group, src/meta.rs:832-842). One dict per row group mapping
        column → (min, max); hive partition directory values join in as
        width-zero zonemaps (min = max = the partition value, as a raw
        string — the evaluator coerces). None for in-memory stores,
        object-store URIs, or when footers are unreadable. Footers are
        read once per store, driver-side, and cached — the same
        metadata read the reference's chunk index performs at build."""
        if self._zonemap_cache is not False:
            return self._zonemap_cache
        self._zonemap_cache = self._read_zonemaps()
        return self._zonemap_cache

    def _read_zonemaps(self) -> list[dict] | None:
        try:
            import pyarrow.parquet as pq

            files = self.df.inputFiles()
        except Exception:
            return None
        if not files:
            return None
        out: list[dict] = []
        for uri in files:
            if uri.startswith("file:"):
                path = uri[len("file:"):]
                while path.startswith("//"):
                    path = path[1:]
            elif "://" in uri:
                return None  # object store: no cheap local footer read
            else:
                path = uri
            # hive-style key=value path segments act as zonemaps whose
            # min == max == the partition value (string-typed here)
            part: dict[str, tuple] = {}
            for seg in path.split(os.sep)[:-1]:
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    if v != "__HIVE_DEFAULT_PARTITION__":
                        part[k] = (v, v)
            try:
                meta = pq.ParquetFile(path).metadata
            except Exception:
                return None
            for rg in range(meta.num_row_groups):
                rgm = meta.row_group(rg)
                stats = dict(part)
                for ci in range(rgm.num_columns):
                    colmeta = rgm.column(ci)
                    st = colmeta.statistics
                    if st is not None and st.has_min_max:
                        stats[colmeta.path_in_schema] = (st.min, st.max)
                out.append(stats)
        return out or None

    @classmethod
    def from_df(
        cls,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str | None = "vec_id",
        dim: int | None = None,
        validate: bool = True,
    ) -> "VecStore":
        if vec_col not in df.columns:
            raise StoreBuildError(f"vector column {vec_col!r} not in DataFrame")
        if id_col is None or id_col not in df.columns:
            id_col = id_col or "vec_id"
            df = with_row_index(df, id_col)
        if validate:
            row = df.agg(
                F.min(F.size(vec_col)).alias("lo"), F.max(F.size(vec_col)).alias("hi")
            ).first()
            if row["lo"] is None:
                dim = dim or 0
            else:
                if row["lo"] != row["hi"]:
                    raise StoreBuildError(
                        f"ragged vector column {vec_col!r}: sizes {row['lo']}..{row['hi']} "
                        "(reference rejects dim mismatch, src/vec.rs:357-362)"
                    )
                if dim is not None and dim != row["lo"]:
                    raise StoreBuildError(
                        f"declared dim {dim} != observed dim {row['lo']}"
                    )
                dim = row["lo"]
        if INV_NORM_COL not in df.columns:
            df = df.withColumn(INV_NORM_COL, inv_norm_expr(vec_col))
        return cls(df, vec_col, id_col, dim)

    def add_rows(self, rows: DataFrame) -> "VecStore":
        """Append rows to a built store — the reference's roadmap item
        'Mutability (add/remove rows after build)' (README.md:207).
        Functional, not in-place: Spark DataFrames are immutable, so
        mutation is a cheap incremental rebuild that unions the new
        rows onto the existing lineage (the Parquet scan of a saved
        store is untouched; at persistence time the new rows land as
        additional files — or use ``sources.merge.merge_upsert`` for
        key-based upserts).

        ``rows`` must carry every store column except the derived
        inverse norm (computed here if absent). The dimension check
        runs over the NEW rows only — one tiny aggregate, never a
        corpus rescan. Id collisions are NOT checked (the reference's
        ``add_vector`` appends positionally and never dedups); run a
        key check via ``sources.merge`` when ids must stay unique."""
        missing = set(self.df.columns) - {INV_NORM_COL} - set(rows.columns)
        if missing:
            raise StoreBuildError(
                f"add_rows: new rows missing store columns {sorted(missing)}"
            )
        if self.dim is not None:
            row = rows.agg(
                F.min(F.size(self.vec_col)).alias("lo"),
                F.max(F.size(self.vec_col)).alias("hi"),
            ).first()
            if row["lo"] is not None and (
                row["lo"] != self.dim or row["hi"] != self.dim
            ):
                raise StoreBuildError(
                    f"add_rows: vector sizes {row['lo']}..{row['hi']} != store "
                    f"dim {self.dim} (reference rejects dim mismatch, "
                    "src/vec.rs:357-362)"
                )
        add = rows
        if INV_NORM_COL not in add.columns:
            add = add.withColumn(INV_NORM_COL, inv_norm_expr(self.vec_col))
        new = self.df.unionByName(add.select(*self.df.columns))
        return type(self)(new, self.vec_col, self.id_col, self.dim)

    def remove_rows(self, ids) -> "VecStore":
        """Drop rows by id — the remove half of the mutability roadmap
        item. ``ids`` is either a DataFrame of ids (first column; plain
        anti-join — the planner picks broadcast vs shuffle by size) or
        an iterable of ids, which becomes the scan-side filter
        ``id IS NULL OR NOT id IN (...)`` — no join and no extra Spark
        job, so a query over the result stays one job.

        The iterable keeps the anti-join's semantics: store rows with a
        NULL id are kept, a ``None`` in ``ids`` matches nothing, and
        duplicates are harmless. Every id is checked against the id
        column's type with the same verifier ``createDataFrame`` runs,
        so a mistyped id raises instead of being coerced. Integral and
        string ids are rendered into one SQL ``IN`` list (one JVM call
        however many ids: ``Column.isin`` pays one py4j call per id,
        and every append re-applies the whole delete list); the
        optimizer turns lists over 10 ids into a hash-set ``InSet``."""
        if isinstance(ids, DataFrame):
            key = ids.select(F.col(ids.columns[0]).alias(self.id_col))
            new = self.df.join(key, self.id_col, "left_anti")
            return type(self)(new, self.vec_col, self.id_col, self.dim)
        id_type = self.df.schema[self.id_col].dataType
        verify = _make_type_verifier(
            T.StructType([T.StructField(self.id_col, id_type)])
        )
        keep = []
        for i in ids:
            verify((i,))
            if i is not None:
                keep.append(i)
        keep = list(dict.fromkeys(keep))
        if not keep:
            return type(self)(self.df, self.vec_col, self.id_col, self.dim)
        col = F.col(self.id_col)
        listed = _sql_in_list(keep, id_type)
        if listed is None:
            hit = col.isin(keep)
        else:
            quoted = "`" + self.id_col.replace("`", "``") + "`"
            hit = F.expr(f"{quoted} IN ({listed})")
        new = self.df.filter(col.isNull() | ~hit)
        return type(self)(new, self.vec_col, self.id_col, self.dim)

    def query(self, queries: Any, metric: str = "cosine"):
        """Start a fluent query plan (src/vec.rs:387-411). ``queries``
        is one vector or a list of vectors; batches merge into ONE
        global top-k (src/vec.rs:217-219)."""
        from .plan import VecQueryPlan

        return VecQueryPlan(self, queries, metric)

    def query_batch(self, queries: Any, metric: str = "cosine"):
        """Explicit batch entry point (reference ``query_batch``,
        src/meta.rs:569-576) — same plan as :meth:`query`, which
        already accepts batches."""
        return self.query(queries, metric)

    def count(self) -> int:
        return self.df.count()

    # --- display parity (src/display.rs, src/meta.rs:367-374,547-565) ----

    def show_head(self, n: int = 5) -> None:
        """Print the first-n preview as the reference's ASCII table
        (src/meta.rs:367-374 → src/display.rs:126-162)."""
        from .display import format_head

        print(format_head(self, n))

    def print_build_stats(self) -> None:
        """src/meta.rs:547-553."""
        from .display import format_build_stats

        if self.last_build_stats is None:
            print("No build stats available")
        else:
            print(format_build_stats(self.last_build_stats))

    def print_last_query_stats(self) -> None:
        """src/meta.rs:555-561."""
        from .display import format_query_stats

        if self.last_query_stats is None:
            print("No query stats available (run collect_with_stats)")
        else:
            print(format_query_stats(self.last_query_stats))

    def print_stats(self) -> None:
        """src/meta.rs:563-565."""
        self.print_build_stats()
        self.print_last_query_stats()


class MetaStore(VecStore):
    """Metadata table + vectors as one DataFrame (src/meta.rs:49-60).

    ``schema`` exposes the otters-dtype view of the metadata columns for
    the strict expression compiler (src/meta.rs:50).
    """

    _INTERNAL = {INV_NORM_COL}

    @property
    def meta_columns(self) -> list[str]:
        skip = {self.vec_col, self.id_col} | self._INTERNAL
        return [c for c in self.df.columns if c not in skip]

    @property
    def schema(self) -> dict[str, str]:
        dtypes = _schema_dtypes(self.df.schema)
        return {c: dtypes[c] for c in self.meta_columns}

    def query(self, queries: Any, metric: str = "cosine"):
        from .plan import MetaQueryPlan

        return MetaQueryPlan(self, queries, metric)

    # --- persistence (realizes the reference's roadmap persistence item,
    # README.md:206,213) -------------------------------------------------

    def save(
        self,
        path: str,
        mode: str = "overwrite",
        sort_cols: Sequence[str] | None = None,
        bloom_cols: Sequence[str] | None = None,
        bloom_fpp: float | None = None,
        bloom_ndv: int | None = None,
        row_group_bytes: int = 128 * 1024 * 1024,
        partitions: int | None = None,
        partition_by: Sequence[str] | None = None,
    ) -> BuildStats:
        """Persist as Parquet with the pruning features the reference
        builds by hand: row-group stats (= zonemaps), bloom filters on
        string columns (= per-chunk blooms, src/meta_compute.rs:99-115),
        and optional sort-by-filter-columns layout (README.md:184-186).
        Returns :class:`BuildStats` (reference ``MetaBuildStats``,
        src/meta.rs:844-852).
        """
        from pyspark.sql import Observation

        t0 = time.perf_counter()
        df = self.df
        if sort_cols:
            n = partitions or df.sparkSession.sparkContext.defaultParallelism
            df = df.repartitionByRange(n, *[F.col(c) for c in sort_cols])
            df = df.sortWithinPartitions(*sort_cols)
        elif partitions:
            df = df.repartition(partitions)
        # row count rides the WRITE job itself as an observed metric —
        # save() runs exactly one Spark job; the old implementation
        # re-read the written table and paid a count() scan plus an
        # .rdd deserialization pass just for BuildStats
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if bloom_cols is None:
            bloom_cols = [
                f.name
                for f in self.df.schema.fields
                if isinstance(f.dataType, T.StringType)
            ]
        w = df.write.mode(mode).option("parquet.block.size", str(row_group_bytes))
        if partition_by:
            # hive-style directory partitioning: equality filters on
            # these columns prune at the FILE level before row groups
            w = w.partitionBy(*partition_by)
        if bloom_fpp is not None:
            # reference clamps FPR to [0.01, 0.5] (src/meta.rs:92-101)
            w = w.option("parquet.bloom.filter.fpp", str(min(max(bloom_fpp, 0.01), 0.5)))
        for c in bloom_cols:
            w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
            if bloom_ndv is not None:
                w = w.option(f"parquet.bloom.filter.expected.ndv#{c}", str(bloom_ndv))
        w.parquet(path)
        manifest = {
            "vec_col": self.vec_col,
            "id_col": self.id_col,
            "dim": self.dim,
            "sort_cols": list(sort_cols or []),
            "bloom_cols": list(bloom_cols),
            "partition_by": list(partition_by or []),
        }
        if "://" not in path:
            with open(os.path.join(path, _MANIFEST), "w") as f:
                json.dump(manifest, f)
        # chunks = written data-file count: a pure driver-side listing
        # (inputFiles reads footers/metadata only, never row data), the
        # honest analog of the reference's chunk count for the layout
        # that readers will actually scan
        n_files = len(
            self.df.sparkSession.read.parquet(path).inputFiles()
        )
        self.last_build_stats = BuildStats(
            rows=int(obs.get["rows"]),
            chunks=n_files,
            elapsed_sec=time.perf_counter() - t0,
        )
        return self.last_build_stats

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "MetaStore":
        manifest = {}
        mpath = os.path.join(path, _MANIFEST)
        if "://" not in path and os.path.exists(mpath):
            with open(mpath) as f:
                manifest = json.load(f)
        df = spark.read.parquet(path)
        return cls(
            df,
            vec_col=manifest.get("vec_col", "embedding"),
            id_col=manifest.get("id_col", "vec_id"),
            dim=manifest.get("dim"),
        )

    @classmethod
    def from_df(cls, *args, **kwargs) -> "MetaStore":
        return super().from_df(*args, **kwargs)  # type: ignore[return-value]

    def head(self, n: int = 5):
        """First-n preview (src/col.rs:403-444, src/meta.rs:366-374)."""
        return self.df.limit(n).toPandas()
