"""LakeTable — a from-scratch snapshot-based ACID table format on parquet.

Why this exists: the reference gets atomicity from "write everything into
intermediate Delta tables, then one final SQL statement"
(reference DatabricksOutputConnection.java:133-171, README.md:51,63); the
north rule asks for Iceberg-style snapshot commits. No Iceberg/Delta jar is
available in this environment, so the engine carries its own minimal
lakehouse layer with the same guarantees, built from public designs
(Iceberg spec / Delta log, both public):

  <root>/<table>/
    data/<uuid>.parquet            immutable data files
    meta/v{N:012d}.json            snapshot manifest N: schema/properties +
                                   names of file-list SEGMENTS + tombstones
                                   (two-tier, commit IO = O(files changed))
    meta/seg-<uuid>.json           immutable file-list segments (the entries
                                   one commit added); folded periodically
    meta/CURRENT                   text file holding N; os.replace = atomic commit

Guarantees:
  * Atomic commit: readers resolve CURRENT once; manifests are immutable and
    written with O_EXCL, so a torn job never publishes a partial snapshot.
  * Snapshot isolation + time travel: every historical vN.json stays readable.
  * Exactly-once hook: each snapshot carries arbitrary `properties`
    (we stamp batch_id there; streaming/checkpoint.py reconciles on crash).
  * Schema evolution by stable field ids (add / rename / widen are
    metadata-only commits; old files are projected to the current schema at
    read time by field id, never rewritten) — the capability the reference
    exposes as column_options-driven DDL (README.md:40-41).
  * Bucket layout: data files are tagged with pmod(xxhash64(key), n_buckets);
    MERGE rewrites only buckets containing touched keys (copy-on-write with
    bucket-level pruning). At 100 TB, n_buckets scales up so a CDC batch
    touching k distinct keys rewrites O(k/n_buckets) of the table, not all
    of it, and the merge join shuffles only the affected slice.

Single-writer per table is assumed (the reference is likewise one Embulk run
per target table); concurrent commits raise CommitConflict instead of
corrupting state.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import bloom, sketch

_BUCKET_COL = "__bucket"

# MOR delta-file envelope: commit sequence (the snapshot version that added
# the delta — strictly increasing, so later deltas win) + the row operation.
_DSEQ_COL = "__dseq"
_DOP_COL = "__op"
_DELTA_FIELDS = [(_DSEQ_COL, "bigint"), (_DOP_COL, "string")]
# positional-delete envelope (Iceberg v2 position-delete analog): a posdel
# file stores (_file = target data-file basename, _pos = row index within
# that file); readers anti-join targeted files on this pair
_PDFILE_COL = "_file"
_PDPOS_COL = "_pos"
# row lineage (Iceberg v3 row-id analog): every data/delta file gets a
# first-row-id ("fr") at COMMIT time from the manifest's next_row_id
# counter; a row's _row_id = fr + its position in the file. Rewrites
# (compact, COW merge/update/delete, MOR fold) carry ids by materializing
# a physical __row_id column (entry flag "ridc"); rows with NULL __row_id
# in such a file (e.g. merge inserts) inherit fr + position, per the v3
# null-inheritance rule.
ROW_ID = "_row_id"
_RID_COL = "__row_id"
# second half of v3 row lineage (_last_updated_sequence_number analog):
# every row-holding file also gets the commit sequence that added it
# ("ls", stamped next to "fr"); a row's _last_seq = coalesce(physical
# __last_seq, ls). Rewrites that COPY a row materialize its old value;
# rows the operation MODIFIED (merge update, UPDATE SET, MOR re-append)
# write NULL so they inherit the rewrite commit's sequence — the same
# null-inheritance rule as _row_id, pointing the other way in time.
LAST_SEQ = "_last_seq"
_LSQ_COL = "__last_seq"


def _carry_lineage(df: DataFrame) -> tuple[DataFrame, list[tuple[str, str]]]:
    """Rename the read-side row-lineage columns (`_row_id`, `_last_seq`) to
    their physical names for a rewrite that carries both verbatim (compact,
    MOR fold, DELETE survivors); returns (df, extra_fields for the write)."""
    df = df.withColumnRenamed(ROW_ID, _RID_COL)
    extra = [(_RID_COL, "bigint")]
    if LAST_SEQ in df.columns:
        df = df.withColumnRenamed(LAST_SEQ, _LSQ_COL)
        extra.append((_LSQ_COL, "bigint"))
    return df, extra


_COMPRESSION_CODECS = {"snappy", "zstd", "gzip", "lz4", "uncompressed"}


def _compression_of(m: "Manifest") -> str:
    # zstd default: on the token-array payload it measured 2.9x smaller
    # AND faster than snappy end-to-end (97.7 vs 285.7 MB per 4M events;
    # write 6.8 vs 8.8s, scan 0.20 vs 0.87s) — at 100 TB, bytes at rest
    # ARE the scan-IO bill. Override per table via set_write_compression.
    return m.properties.get("write_compression", "zstd")


def _live_data(files: list[dict]) -> list[dict]:
    """Entries that hold table ROWS (data + delta) — positional- and
    equality-delete files are metadata-shaped sidecars and must never be
    read as data."""
    return [f for f in files if f.get("kind") not in ("posdel", "eqdel")]


def _posdel_entries(files: list[dict]) -> list[dict]:
    return [f for f in files if f.get("kind") == "posdel"]


def _eqdel_entries(files: list[dict]) -> list[dict]:
    return [f for f in files if f.get("kind") == "eqdel"]


class CommitConflict(RuntimeError):
    """Another writer committed the same version first."""


class ConstraintViolation(ValueError):
    """A write whose rows break a table CHECK constraint (add_check). The
    write is rejected whole — no partial apply, no snapshot commit."""


class SchemaEvolutionError(ValueError):
    """Illegal schema change (e.g. narrowing widen, unknown column)."""


# widen legality matrix (FIXTURES.md S14/S20): value-preserving only.
_WIDEN_OK = {
    ("int", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("float", "double"),
    ("int", "double"),
    ("bigint", "double"),  # lossy above 2^53 but standard; allowed like Spark
    ("array<int>", "array<bigint>"),
}


def qname(name: str) -> str:
    """Quote one name part for PARSED column-reference contexts (literal
    backticks doubled) — the DataFrame-API analog of the reference's
    quoteIdentifierString (DatabricksOutputConnection.java:125-131,
    golden fixture TestDatabricksOutputConnection.java:46-54)."""
    return "`" + name.replace("`", "``") + "`"


def qcol(name: str):
    """Column reference that survives ANY literal column name — including
    backticks. F.col()/select("name")/groupBy("name") PARSE their
    argument (dots navigate, backticks quote), so a literal backtick in a
    name is a syntax error unless doubled inside a quoted part. Engine
    paths that touch user-named payload columns route through this."""
    return F.col(qname(name))


def _type_of(s: str) -> T.DataType:
    return T._parse_datatype_string(s)  # public-ish helper used widely


# Column types the driver-side (pyarrow) reader and writer round-trip
# exactly: Spark reads the files back with the same values and types.
# Anything else (timestamps, decimals, dates, maps, structs) keeps the
# Spark write path.
_ARROW_SCALARS = {
    "tinyint": "int8", "smallint": "int16", "int": "int32",
    "bigint": "int64", "float": "float32", "double": "float64",
    "string": "string", "boolean": "bool_", "binary": "binary",
}


def arrow_type(type_str: str):
    """pyarrow type of a schema type string (all-nullable), or None when
    the pyarrow writer cannot round-trip it. Arrays nest one level."""
    import pyarrow as pa

    if type_str.startswith("array<") and type_str.endswith(">"):
        inner = _ARROW_SCALARS.get(type_str[6:-1])
        return pa.list_(getattr(pa, inner)()) if inner else None
    name = _ARROW_SCALARS.get(type_str)
    return getattr(pa, name)() if name else None


def _arrow_schema(fields: list[tuple[str, str]]):
    import pyarrow as pa

    return pa.schema([pa.field(n, arrow_type(t)) for n, t in fields])


def _dtype_of_field(f: dict) -> T.DataType:
    """DataType of one schema field. For struct columns carrying nested
    field ids ("fields", Iceberg nested-field analog) the sub-list is
    authoritative — child names/types derive from it, so nested renames
    and widens are metadata-only like their top-level counterparts."""
    if f.get("fields"):
        return T.StructType([
            T.StructField(c["name"], _dtype_of_field(c), c.get("nullable", True))
            for c in f["fields"]
        ])
    return _type_of(f["type"])


def _fields_with_ids(struct_fields, counter) -> list[dict]:
    """Schema-field dicts for a StructType's fields, allocating a stable
    field id per field AND per nested struct child (depth-recursive).
    Nested ids are what make add/rename/widen INSIDE a struct column
    metadata-only: projection resolves children by id, never by position.
    Structs inside arrays/maps stay opaque (no ids — their evolution is
    refused, mirroring Iceberg's practical limits for this engine)."""
    out = []
    for f in struct_fields:
        d = {"id": next(counter), "name": f.name,
             "type": f.dataType.simpleString(),
             "nullable": f.nullable}
        if isinstance(f.dataType, T.StructType):
            d["fields"] = _fields_with_ids(f.dataType.fields, counter)
        out.append(d)
    return out


def _project_field(col, pf: dict, cf: dict):
    """Project one physical column (written under field dict `pf`) to the
    current field dict `cf` — the nested-aware leg of _df_for_files' by-id
    resolution. Identical nested layouts pass through untouched; differing
    layouts rebuild the struct child-by-child by nested field id (missing
    child -> initial-default/NULL, renamed child -> physical name, widened
    child -> cast), preserving NULL struct values. Legacy struct columns
    (either side without nested ids) fall back to the plain cast."""
    cfs, pfs = cf.get("fields"), pf.get("fields")
    if cfs and pfs:
        if cfs == pfs:
            return col
        phys = {c["id"]: c for c in pfs}
        subs = []
        for cc in cfs:
            pc = phys.get(cc["id"])
            if pc is None:  # child added after this file: initial-default
                subs.append(F.lit(cc.get("default"))
                            .cast(_dtype_of_field(cc)).alias(cc["name"]))
            else:
                subs.append(_project_field(col[pc["name"]], pc, cc)
                            .alias(cc["name"]))
        return F.when(col.isNotNull(), F.struct(*subs))
    return col.cast(cf["type"])


@dataclass
class SchemaVersion:
    sv: int
    # ordered list of {"id": int, "name": str, "type": str(simpleString), "nullable": bool}
    # struct columns may carry "fields": nested child dicts with their own
    # stable ids (Iceberg nested-field analog; see _fields_with_ids)
    fields: list[dict]

    def struct(self) -> T.StructType:
        return T.StructType(
            [T.StructField(f["name"], _dtype_of_field(f), f.get("nullable", True)) for f in self.fields]
        )

    def by_id(self) -> dict[int, dict]:
        return {f["id"]: f for f in self.fields}


@dataclass
class Manifest:
    version: int
    parent: int | None
    n_buckets: int
    bucket_key: str | None
    current_sv: int
    schema_versions: list[SchemaVersion]
    # file entries: {"path": rel, "bucket": int|None, "rows": int, "sv": int}
    files: list[dict]
    properties: dict = field(default_factory=dict)
    next_field_id: int = 0
    # row-lineage counter: first unassigned _row_id (monotone per table;
    # commits stamp added files' "fr" from here, rebase restamps)
    next_row_id: int = 0

    @property
    def schema_version(self) -> SchemaVersion:
        return next(s for s in self.schema_versions if s.sv == self.current_sv)

    def schema(self) -> T.StructType:
        return self.schema_version.struct()

    def to_json(self) -> str:
        d = {k: v for k, v in self.__dict__.items() if not k.startswith("_")}
        d["schema_versions"] = [sv.__dict__ for sv in self.schema_versions]
        return json.dumps(d, indent=1, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Manifest":
        d = json.loads(s)
        d.pop("segments", None)
        d.pop("removed", None)
        d["schema_versions"] = [SchemaVersion(**sv) for sv in d["schema_versions"]]
        return Manifest(**d)


def bucket_expr(key_col: str, n_buckets: int):
    """Bucket assignment for a key column: stable across writes and reads."""
    return F.pmod(F.xxhash64(qcol(key_col)), F.lit(n_buckets)).cast("int")


_STATS_MAX_STR = 64  # longer string bounds are dropped, not truncated


def _footer_stats(md, wanted: set[str]) -> dict:
    """Per-column [min, max] from a parquet footer (pyarrow FileMetaData),
    aggregated across row groups. Only top-level columns in `wanted`; a
    column with any row group missing min/max (or with non-JSON-able or
    oversized bounds) is dropped — absence means "cannot skip", never
    "skip" (Iceberg data-file column bounds analog, collected for free
    from the footer we already open to count rows)."""
    agg: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in wanted or agg.get(name, ()) is None:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                agg[name] = None
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    agg[name] = None
                    continue
            if isinstance(mn, str) and (len(mn) > _STATS_MAX_STR or len(mx) > _STATS_MAX_STR):
                agg[name] = None
                continue
            if not isinstance(mn, (int, float, str)):
                agg[name] = None
                continue
            prev = agg.get(name)
            agg[name] = [mn, mx] if prev is None or name not in agg else \
                [min(prev[0], mn), max(prev[1], mx)]
    return {k: v for k, v in agg.items() if v is not None}


def _footer_nullfree(md, wanted: set[str]) -> list[str]:
    """Columns of `wanted` PROVABLY null-free in this file (every row group
    records null_count == 0). Powers delete_where's whole-file drops: a
    range predicate never matches a NULL row, so a file may be dropped
    wholesale only when bounds prove every row in-range AND the column is
    proven null-free. A missing proof only forces a rewrite — never a
    wrong result."""
    ok = set(wanted)
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        seen = set()
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in ok:
                continue
            seen.add(name)
            st = col.statistics
            if st is None or st.null_count is None or st.null_count > 0:
                ok.discard(name)
        ok &= seen  # a column absent from a row group has no proof
        if not ok:
            break
    return sorted(ok)


def _stats_keep(m: "Manifest", files: list[dict], stats_filter: dict) -> list[dict]:
    """File-skipping by column bounds: drop files whose recorded [min,max]
    provably misses every bound in `stats_filter` ({current_col_name:
    (lo, hi)}, either bound None). Bounds are resolved to each file's
    PHYSICAL column name by field id, so skipping survives renames. A file
    with no recorded bounds for a column is kept (conservative); a file
    written before the column existed is skipped (all-null misses any
    range predicate, which is null-excluding by SQL semantics)."""
    cur_by_name = {c["name"]: c for c in m.schema_version.fields}
    svs = {s.sv: s for s in m.schema_versions}
    out = []
    for f in files:
        keep = True
        phys_by_id = svs[f["sv"]].by_id()
        for col, (lo, hi) in stats_filter.items():
            cf = cur_by_name.get(col)
            if cf is None:
                raise ValueError(f"stats_filter on unknown column {col!r}")
            pf = phys_by_id.get(cf["id"])
            if pf is None:  # column added after this file: every row reads
                # the initial-default (all-NULL when none — misses any range)
                d = cf.get("default")
                if d is None or not _const_in_range(d, lo, hi):
                    keep = False
                    break
                continue
            s = f.get("stats", {}).get(pf["name"])
            if s is None:
                continue
            mn, mx = s
            if (lo is not None and mx < lo) or (hi is not None and mn > hi):
                keep = False
                break
        if keep:
            out.append(f)
    return out


def _const_in_range(d, lo, hi) -> bool:
    """Whether a constant column value `d` can satisfy a [lo, hi] bound.
    Non-comparable defaults (arrays, cross-type) answer True — conservative
    keep, never a wrong skip."""
    try:
        if (lo is not None and d < lo) or (hi is not None and d > hi):
            return False
    except TypeError:
        return True
    return True


def _pred_classify(m: "Manifest", f: dict, pred: dict) -> str:
    """Classify one data file against a conjunctive range predicate
    ({current_col_name: (lo, hi)}, either bound None, null-excluding SQL
    semantics — the stats_filter shape): 'none' (bounds prove NO row
    matches), 'all' (bounds + null-free proof show EVERY row matches), or
    'some' (must be read). Bounds resolve to the file's PHYSICAL column
    name by field id, so classification survives renames; a file written
    before the column existed is all-NULL there, hence 'none'."""
    cur_by_name = {c["name"]: c for c in m.schema_version.fields}
    phys_by_id = {s.sv: s for s in m.schema_versions}[f["sv"]].by_id()
    all_match = True
    for col, (lo, hi) in pred.items():
        cf = cur_by_name.get(col)
        if cf is None:
            raise ValueError(f"delete predicate on unknown column {col!r}")
        pf = phys_by_id.get(cf["id"])
        if pf is None:  # column added after this file: constant-valued at
            # the initial-default; all-NULL (no default) misses any range
            d = cf.get("default")
            if d is None:
                return "none"
            try:  # point value [d, d]: provably outside -> none; provably
                # inside + non-null -> conjunct holds for every row
                if (lo is not None and d < lo) or (hi is not None and d > hi):
                    return "none"
                if not ((lo is None or d >= lo) and (hi is None or d <= hi)):
                    all_match = False
            except TypeError:  # non-comparable default: must read
                all_match = False
            continue
        s = f.get("stats", {}).get(pf["name"])
        if s is None:
            all_match = False
            continue
        mn, mx = s
        if (lo is not None and mx < lo) or (hi is not None and mn > hi):
            return "none"
        if not ((lo is None or mn >= lo) and (hi is None or mx <= hi)
                and pf["name"] in f.get("nn", ())):
            all_match = False
    return "all" if all_match else "some"


def _bloom_keep(m: "Manifest", files: list[dict], eq_filter: dict) -> list[dict]:
    """File-skipping by per-file bloom filters: drop files whose bloom
    PROVES the lookup value absent ({current_col_name: value}). Mirrors
    _stats_keep's contracts: blooms are stored under the file's PHYSICAL
    column name and resolved by field id (skipping survives renames); a
    file without a bloom for the column is kept; a file predating the
    column is skipped (all-null never equals a value). Bloom false
    positives only KEEP files — never wrong results, just extra IO."""
    cur_by_name = {c["name"]: c for c in m.schema_version.fields}
    svs = {s.sv: s for s in m.schema_versions}
    out = []
    for f in files:
        keep = True
        phys_by_id = svs[f["sv"]].by_id()
        for col, val in eq_filter.items():
            cf = cur_by_name.get(col)
            if cf is None:
                raise ValueError(f"eq_filter on unknown column {col!r}")
            vals = (list(val) if isinstance(val, (list, tuple, set))
                    else [val])  # list = IN / contains-ANY semantics
            pf = phys_by_id.get(cf["id"])
            if pf is None:  # column added after this file: every row reads
                # the initial-default (all-NULL when none, never equal)
                if cf.get("default") not in vals:
                    keep = False
                    break
                continue
            # bounds pre-check: a value outside the file's footer min/max
            # provably never matches (writer-side max truncation rounds UP,
            # min rounds down — same conservatism _stats_keep relies on),
            # so most files drop without paying the bloom-blob decode.
            # Sound for scalars only; array columns harvest no bounds, so
            # st is None there and every value goes to the bloom.
            st = f.get("stats", {}).get(pf["name"])
            if st is not None and st[0] is not None and st[1] is not None:
                def _in_bounds(v, lo=st[0], hi=st[1]):
                    try:
                        return lo <= v <= hi
                    except TypeError:
                        return True  # mixed types: no proof, keep probing
                vals = [v for v in vals if _in_bounds(v)]
                if not vals:
                    keep = False
                    break
            blob = f.get("bloom", {}).get(pf["name"])
            if blob is None:
                continue
            if not any(bloom.might_contain(blob, v) for v in vals):
                keep = False
                break
        if keep:
            out.append(f)
    return out


def _merge_key_prunable(m: "Manifest", files: list[dict],
                        key_vals: dict) -> tuple[list[dict], list[dict]]:
    """Split non-delta data `files` into (prunable, must_read) for a keyed
    MERGE: a file is PRUNABLE when its recorded column bounds or bloom
    filter PROVE that no staged merge-key value can appear in it — the
    file then survives the copy-on-write commit byte-identical (exact
    path, stats, blooms, row lineage) instead of being read and
    rewritten. This is the within-bucket refinement of bucket pruning:
    at 100 TB a bucket is tens of GB, and the steady-state CDC batch
    touches a handful of keys per bucket; with a sort order on the merge
    key, write amplification drops from O(touched buckets) to O(matched
    files). Analog of Iceberg's COW MERGE file-level runtime filtering.

    `key_vals`: {current_col_name: (sorted_non_null_values, has_null)} —
    the staged batch's distinct key values, collected driver-side (the
    caller gates on batch size). Proof logic mirrors _stats_keep /
    _bloom_keep: resolution by field id survives renames, absence of
    stats/bloom keeps the file (conservative), a possible NULL staged
    key only matches files not proven null-free (NULL-safe merge join).
    """
    import bisect

    cur_by_name = {c["name"]: c for c in m.schema_version.fields}
    svs = {s.sv: s for s in m.schema_versions}
    prunable, must = [], []
    for f in files:
        phys_by_id = svs[f["sv"]].by_id()
        proven_absent = False
        for col, (vals, has_null) in key_vals.items():
            cf = cur_by_name.get(col)
            if cf is None:
                continue  # key not in this schema: no proof possible
            pf = phys_by_id.get(cf["id"])
            if pf is None:
                # column added after this file: constant initial-default
                # (all-NULL when none — matches only a NULL staged key)
                d = cf.get("default")
                might = (d in vals) if d is not None else has_null
                if not might:
                    proven_absent = True
                    break
                continue
            null_possible = has_null and pf["name"] not in f.get("nn", ())
            s = f.get("stats", {}).get(pf["name"])
            cand = vals
            if s is not None:
                mn, mx = s
                try:
                    cand = vals[bisect.bisect_left(vals, mn):
                                bisect.bisect_right(vals, mx)]
                except TypeError:
                    cand = vals  # cross-type bounds: no proof from stats
                if not cand and not null_possible:
                    proven_absent = True
                    break
            blob = f.get("bloom", {}).get(pf["name"])
            if (blob is not None and not null_possible
                    and len(cand) <= 4096
                    and not any(bloom.might_contain(blob, v) for v in cand)):
                proven_absent = True
                break
        (prunable if proven_absent else must).append(f)
    return prunable, must


def sort_order_properties(cols: list[str],
                          rows_per_file: int | None = None) -> dict:
    """Table properties of a write sort order (LakeTable.set_sort_order).
    Passing them to create_table gives a table its order in its first
    snapshot, so no crash window leaves it writing unclustered files."""
    if rows_per_file is not None and rows_per_file < 1:
        raise ValueError("rows_per_file must be >= 1")
    props = {"sort_order": ",".join(cols)}
    if rows_per_file is not None:
        props["sort_rows_per_file"] = str(rows_per_file)
    elif not cols:
        props["sort_rows_per_file"] = ""
    return props


def _table_checks(m: "Manifest") -> dict[str, str]:
    """CHECK constraints of the snapshot ({name: sql_expr}; Delta ADD
    CONSTRAINT analog), stored as one JSON table property so add/drop is
    a plain property overwrite (commit properties merge key-by-key)."""
    raw = m.properties.get("checks")
    return json.loads(raw) if raw else {}


def _violation_count(e: str, guard=None):
    """Aggregate counting rows that VIOLATE check expr `e` — SQL CHECK
    semantics: NULL (unknown) passes, only a definite FALSE violates.
    `guard` (a boolean Column) limits which rows are subject to the check
    (MOR delete markers carry no meaningful payload)."""
    viol = ~F.coalesce(F.expr(e).cast("boolean"), F.lit(True))
    if guard is not None:
        viol = guard & viol
    return F.sum(F.when(viol, 1).otherwise(0))


def _file_nb(m: "Manifest", f: dict) -> int:
    """Bucket-spec (n_buckets) a file was written under. Files carry "nb"
    only once the table has been rebucketed; absent means the manifest's
    current spec — rebucket() stamps every pre-existing entry to keep the
    invariant (Iceberg partition-spec-id-per-data-file analog)."""
    return f.get("nb", m.n_buckets)


def _split_files(m: "Manifest", files: list[dict],
                 buckets) -> tuple[list[dict], list[dict]]:
    """Partition `files` into (selected, rest) under a bucket filter.

    `buckets` is None (select all), a set of bucket ids under the CURRENT
    spec, or a {n_buckets: set(bucket_ids)} map covering multiple specs.
    A file whose spec has no entry in the map is SELECTED (conservative:
    a reader cannot prove the file misses the probed keys, so it must be
    read — and a rewriter that read it must also remove it; callers rely
    on read-selection == removal-selection)."""
    if buckets is None:
        return list(files), []
    spec = buckets if isinstance(buckets, dict) else {m.n_buckets: set(buckets)}
    sel, rest = [], []
    for f in files:
        chosen = spec.get(_file_nb(m, f))
        (sel if chosen is None or f["bucket"] in chosen else rest).append(f)
    return sel, rest


def _diff_changed_buckets(old_m: "Manifest",
                          new_m: "Manifest") -> set[int] | None:
    """Current-spec bucket ids whose resolved rows can differ between two
    snapshots, judged purely from manifest entries (no IO): files are
    immutable and paths never reused, so an entry identical in both
    manifests contributes identical rows. Returns None when pruning is
    unsound (see diff() docstring) — the caller then reads everything.
    """
    if (old_m.current_sv != new_m.current_sv
            or old_m.n_buckets != new_m.n_buckets):
        return None

    def keyed(m):
        return {json.dumps(f, sort_keys=True) for f in m.files}

    ok, nk = keyed(old_m), keyed(new_m)
    delta_keys = (ok - nk) | (nk - ok)
    if not delta_keys:
        return set()
    # basename -> current-spec bucket, for mapping sidecar targets
    base_bucket: dict[str, int] = {}
    for m in (old_m, new_m):
        for f in _live_data(m.files):
            if _file_nb(m, f) == m.n_buckets and f.get("bucket") is not None:
                base_bucket[os.path.basename(f["path"])] = f["bucket"]
    changed: set[int] = set()
    for k in delta_keys:
        f = json.loads(k)
        if f.get("kind") in ("posdel", "eqdel"):
            for t in f.get("targets", []):
                b = base_bucket.get(t)
                if b is None:
                    return None  # target not mapped to a current-spec bucket
                changed.add(b)
        else:
            if (f.get("nb", old_m.n_buckets) != old_m.n_buckets
                    or f.get("bucket") is None):
                return None  # old-spec / unbucketed entry changed
            changed.add(f["bucket"])
    return changed


class LakeCatalog:
    """Directory-of-tables catalog (analog of the reference's Unity Catalog
    schema namespace; tableExists/metadata probes map to SURVEY B10)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def _root(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def table_exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._root(name), "meta", "CURRENT"))

    def create_table(
        self,
        name: str,
        schema: T.StructType,
        n_buckets: int = 16,
        bucket_key: str | None = None,
        properties: dict | None = None,
    ) -> "LakeTable":
        root = self._root(name)
        if self.table_exists(name):
            raise ValueError(f"table {name!r} already exists")
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "meta"), exist_ok=True)
        import itertools

        counter = itertools.count()
        fields = _fields_with_ids(schema.fields, counter)
        n_ids = next(counter)
        m = Manifest(
            version=0,
            parent=None,
            n_buckets=n_buckets,
            bucket_key=bucket_key,
            current_sv=0,
            schema_versions=[SchemaVersion(0, fields)],
            files=[],
            # stamped like every _commit: age-based retention and
            # timestamp travel see the create snapshot too
            properties={"committed_at_us": int(time.time() * 1_000_000),
                        **(properties or {})},
            next_field_id=n_ids,
        )
        t = LakeTable(self.spark, root, name)
        t._write_manifest(m)
        return t

    def load(self, name: str) -> "LakeTable":
        if not self.table_exists(name):
            raise ValueError(f"no such table: {name!r}")
        return LakeTable(self.spark, self._root(name), name)

    def drop_table(self, name: str) -> None:
        root = self._root(name)
        if os.path.exists(root):
            shutil.rmtree(root)

    def list_tables(self) -> list[str]:
        """Names of all tables in the warehouse (the reference probes this
        via JDBC DatabaseMetaData.getTables — SURVEY B10)."""
        return sorted(n for n in os.listdir(self.warehouse)
                      if self.table_exists(n))

    def rename_table(self, old: str, new: str) -> "LakeTable":
        """Atomic table rename (ALTER TABLE RENAME analog — the very
        primitive the reference's replace mode is built on, README.md:62-65).
        Manifests reference data by table-relative paths, so a rename is one
        directory move: no file, manifest, or snapshot is touched. Existing
        LakeTable handles for the old name are stale after this."""
        if not self.table_exists(old):
            raise ValueError(f"no such table: {old!r}")
        if os.path.exists(self._root(new)):
            raise ValueError(f"table {new!r} already exists")
        os.rename(self._root(old), self._root(new))
        return self.load(new)

    def begin(self, names: list[str]) -> "CatalogTransaction":
        """Open a multi-table transaction (sources/txn.py): stage commits
        on per-table txn branches, publish them all-or-nothing. Call
        recover_transactions() at startup to roll crashed commits
        forward."""
        from .txn import CatalogTransaction

        return CatalogTransaction(self, names)

    def recover_transactions(self, **kw) -> dict:
        from .txn import recover_transactions

        return recover_transactions(self, **kw)

    def pin_snapshot(self, names: list[str] | None = None
                     ) -> "CatalogSnapshot":
        """Consistent cross-table READ set (BEGIN ... snapshot-isolation
        analog for readers): capture each table's current version NOW;
        every later `read(name)` through the pin serves exactly that
        version no matter how many commits land meanwhile. A multi-table
        report (fact join dim, corpus join its rollup) sees one instant of
        the catalog instead of each scan racing the writers — per-table
        snapshot atomicity lifted to a read-only transaction. The pin
        holds no locks; expire_snapshots on a pinned version makes that
        table's reads fail (pin long-lived reports with tags instead)."""
        names = self.list_tables() if names is None else names
        return CatalogSnapshot(
            {n: (self.load(n), self.load(n).current_version())
             for n in names})


class CatalogSnapshot:
    """A pinned {table -> version} read set from LakeCatalog.pin_snapshot."""

    def __init__(self, pinned: dict):
        self._pinned = pinned

    def versions(self) -> dict[str, int]:
        return {n: v for n, (_, v) in self._pinned.items()}

    def read(self, name: str, **kw) -> DataFrame:
        """read() of the pinned version; accepts the same keyword surface
        as LakeTable.read (stats_filter/eq_filter/... ), version excluded."""
        if name not in self._pinned:
            raise ValueError(f"table {name!r} not in this snapshot pin")
        t, v = self._pinned[name]
        return t.read(version=v, **kw)

    def sql(self, query: str) -> DataFrame:
        """Spark SQL over the pinned read set: every pinned table is
        registered as a temp view of its pinned version, then the query
        plans against those — ad-hoc multi-table SQL with snapshot
        isolation (the SELECT half of a warehouse transaction). Temp views
        are session-scoped and overwritten per call; Catalyst still gets
        the full declarative plan (joins reordered, filters pushed into
        the resolved scans)."""
        spark = None
        for n, (t, v) in self._pinned.items():
            spark = t.spark
            t.read(version=v).createOrReplaceTempView(n)
        if spark is None:
            raise ValueError("empty snapshot pin")
        return spark.sql(query)


class LakeTable:
    def __init__(self, spark: SparkSession, root: str, name: str,
                 ref: str = "CURRENT"):
        self.spark = spark
        self.root = root
        self.name = name
        # which head pointer this handle reads and advances: "CURRENT" (main)
        # or "BRANCH-<name>" (a named branch). All snapshots share one global
        # version sequence (O_EXCL on vN.json), so branch commits can never
        # collide with main commits — a branch is just another head file.
        self.ref = ref
        self.last_commit_s = 0.0  # snapshot-publish latency of the last _commit
        self._seg_cache: dict[str, list[dict]] = {}  # immutable segment files
        self._manifest_cache: dict[int, tuple] = {}  # version -> merged view

    # ---------- snapshot resolution ----------

    def _meta(self, *p: str) -> str:
        return os.path.join(self.root, "meta", *p)

    def current_version(self) -> int:
        with open(self._meta(self.ref)) as f:
            return int(f.read().strip())

    # Two-tier metadata (Iceberg manifest-list / manifest-file analog): a
    # snapshot JSON names immutable file-list SEGMENTS plus a removed-path
    # set instead of inlining the full listing, so commit IO is O(files
    # changed), not O(files in table) — at 10^10 scale the full listing per
    # commit is itself the bottleneck (10^5 entries x 10^4 commits). When
    # the segment chain or the tombstone set grows past _FOLD_* the commit
    # folds everything into one fresh segment (rewrite_manifests analog,
    # amortized O(1) per commit).
    _FOLD_SEGMENTS = 32
    _FOLD_REMOVED_MIN = 64

    def _read_segment(self, name: str) -> list[dict]:
        if name not in self._seg_cache:
            with open(self._meta(name)) as f:
                self._seg_cache[name] = json.load(f)
        return self._seg_cache[name]

    def _new_segment(self, entries: list[dict]) -> str:
        name = f"seg-{uuid.uuid4().hex}.json"
        with open(self._meta(name), "w") as f:
            json.dump(entries, f)
        self._seg_cache[name] = list(entries)
        return name

    def version_as_of(self, ts_us: int) -> int:
        """Newest RETAINED snapshot committed at or before `ts_us` (epoch
        micros) — Iceberg `TIMESTAMP AS OF` resolution over the
        committed_at_us stamp each commit writes. Raises if every retained
        snapshot is newer (history expired past the asked-for time)."""
        best = None
        for fn in sorted(os.listdir(self._meta())):
            if fn.startswith("v") and fn.endswith(".json"):
                # properties only — materializing each version's full file
                # list (manifest()) would make this O(versions x files)
                with open(self._meta(fn)) as f:
                    d = json.load(f)
                v = int(fn[1:-5])
                at = d.get("properties", {}).get("committed_at_us")
                if at is not None and at <= ts_us and (best is None or v > best):
                    best = v
        if best is None:
            raise ValueError(
                f"{self.name}: no retained snapshot at or before ts_us={ts_us}")
        return best

    def manifest(self, version: int | None = None) -> Manifest:
        v = self.current_version() if version is None else version
        hit = self._manifest_cache.get(v)
        if hit is None:
            with open(self._meta(f"v{v:012d}.json")) as f:
                d = json.load(f)
            segments = d.pop("segments", None)
            removed = d.pop("removed", [])
            d["schema_versions"] = [SchemaVersion(**sv)
                                    for sv in d["schema_versions"]]
            if d.get("files") is None and segments is not None:
                by_path: dict[str, dict] = {}
                for seg in segments:
                    for e in self._read_segment(seg):
                        by_path[e["path"]] = e  # later segment wins (entry updates)
                gone = set(removed)
                d["files"] = [e for p, e in by_path.items() if p not in gone]
            hit = (d, segments, list(removed))
            # version files are immutable once written (O_EXCL create), so
            # the merged view is cacheable forever; keep a small window —
            # the replay loop re-reads the same head several times per batch
            # and at 100k files each re-merge costs ~0.1 s of driver time
            self._manifest_cache[v] = hit
            while len(self._manifest_cache) > 8:
                self._manifest_cache.pop(next(iter(self._manifest_cache)))
        d, segments, removed = hit
        # fresh list + properties dict per call AND a shallow copy of each
        # file entry: the codebase has in-place entry-mutation idioms
        # (e["ridc"]=True, e["kind"]="delta") that today only target
        # freshly-written entries, but one future caller mutating a CACHED
        # entry would silently corrupt every later read of this version.
        # dict(f) per entry costs ~30 ms at 100k files — noise next to the
        # ~1.4 s cold merge the cache avoids (BENCH/metadata_plane.py).
        m = Manifest(**{**d, "files": [dict(f) for f in d["files"]],
                        "properties": dict(d["properties"])})
        m._segments = segments  # type: ignore[attr-defined]  # None = legacy inline
        m._removed = list(removed)  # type: ignore[attr-defined]
        return m

    def _write_manifest(self, m: Manifest, parent: Manifest | None = None) -> None:
        d = {k: v for k, v in m.__dict__.items() if not k.startswith("_")}
        d["schema_versions"] = [sv.__dict__ for sv in m.schema_versions]
        p_segs = getattr(parent, "_segments", None) if parent is not None else []
        if parent is not None and p_segs is None:
            # legacy inline parent: fold into segment form
            segments, removed = [self._new_segment(m.files)], []
        else:
            pby = {f["path"]: f for f in (parent.files if parent else [])}
            mby = {f["path"]: f for f in m.files}
            adds = [f for f in m.files if pby.get(f["path"]) != f]
            removes = [p for p in pby if p not in mby]
            segments = list(p_segs or [])
            inherited = list(getattr(parent, "_removed", []) or []) \
                if parent is not None else []
            # a tombstone must die when its path is re-added (rollback
            # re-points at files a later commit had replaced): `removed`
            # is exactly "paths live in some segment but not in m.files"
            removed = [p for p in inherited + removes if p not in mby]
            if adds:
                segments.append(self._new_segment(adds))
            if (len(segments) > self._FOLD_SEGMENTS
                    or len(removed) > max(self._FOLD_REMOVED_MIN, len(m.files) // 2)):
                segments, removed = [self._new_segment(m.files)], []
        d["files"] = None
        d["segments"], d["removed"] = segments, sorted(removed)
        path = self._meta(f"v{m.version:012d}.json")
        try:
            with open(path, "x") as f:  # O_EXCL: concurrent commit -> conflict
                json.dump(d, f, indent=1, sort_keys=True)
        except FileExistsError as e:
            raise CommitConflict(f"{self.name}: version {m.version} already committed") from e
        m._segments = segments  # type: ignore[attr-defined]
        m._removed = d["removed"]  # type: ignore[attr-defined]
        self._publish_ref(self.ref, m.version)

    # ---------- read path ----------

    def read(self, version: int | None = None, buckets: set[int] | None = None,
             stats_filter: dict | None = None,
             eq_filter: dict | None = None,
             with_row_ids: bool = False,
             min_commit_seq: int | None = None,
             schema_as_of: int | None = None) -> DataFrame:
        """Current-schema DataFrame over the snapshot, projecting old-schema
        files by field id (rename/widen/add are resolved here, zero rewrite).
        `buckets` prunes the file list before any IO — the merge fast path.

        If the snapshot holds merge-on-read delta files (append_delta), the
        read resolves them: per merge key the highest-__dseq row wins (base
        rows rank 0), and a winning delete drops the key. Bucket pruning
        stays exact because base and delta files share the bucket function.

        `buckets` may be a set (bucket ids under the current spec) or an
        {n_buckets: set} map when the table holds files from multiple bucket
        specs after a rebucket(); files of a spec absent from the map are
        always read (see _split_files).

        `stats_filter` ({col: (lo, hi)}, either bound None) both SKIPS files
        whose recorded min/max provably miss the range (manifest-level
        pruning, before any IO — the Iceberg file-skipping analog) and
        APPLIES the range predicate to the returned rows, so results are
        exact whether or not a file carries bounds. Range predicates are
        null-excluding (SQL BETWEEN semantics). Under merge-on-read only
        provably delta-free files are skipped and the predicate is applied
        after winner resolution — a delta row outside the range must still
        beat (and thus hide) its in-range base row.

        `eq_filter` ({col: value}) is the equality twin backed by per-file
        BLOOM filters (sources/bloom.py; table property `bloom_columns`).
        A LIST value means IN (scalar column) / contains-ANY (array
        column): a file is kept when any listed value might be present,
        and the exact predicate (isin / arrays_overlap) applies to rows.
        Other contracts:
        files whose bloom proves the value absent are skipped pre-IO, the
        exact `col = value` predicate is applied to the returned rows, and
        the same MOR conservatism applies. This is the point-lookup path
        bounds cannot serve — on a high-cardinality unclustered column
        every file's [min,max] spans the whole space and prunes nothing.

        `schema_as_of` (a snapshot version) projects the rows FORWARD to
        the schema current at that LATER snapshot instead of `version`'s
        own — by field id, so renames/widens/adds between the two
        versions resolve instead of comparing by name. This is what lets
        diff() answer "which rows changed, viewed under today's schema"
        across evolution commits.
        """
        m = self.manifest(version)
        if schema_as_of is not None:
            import dataclasses

            tm = self.manifest(schema_as_of)
            have = {s.sv for s in tm.schema_versions}
            if not all(f["sv"] in have for f in m.files):
                raise ValueError(
                    f"{self.name}: snapshot v{tm.version} does not carry "
                    f"every schema version v{m.version}'s files were "
                    "written under (rollback across a schema change?)")
            m = dataclasses.replace(m, schema_versions=tm.schema_versions,
                                    current_sv=tm.current_sv)
        files, _ = _split_files(m, _live_data(m.files), buckets)
        if min_commit_seq is not None:
            # lineage pruning (changed_since): a non-delta file whose commit
            # sequence is <= the floor can hold no row with _last_seq above
            # it (materialized __last_seq values are always <= the file's
            # own ls), so it is skipped before any IO. Delta files are KEPT
            # regardless: an old delta can still be the LWW winner over a
            # newer base append, and dropping it would flip the winner.
            # Pre-feature files (no "ls") are conservatively read.
            files = [f for f in files
                     if f.get("kind") == "delta"
                     or f.get("ls") is None or f["ls"] > min_commit_seq]

        def _apply(df: DataFrame) -> DataFrame:
            if not stats_filter and not eq_filter:
                return df
            cond = F.lit(True)
            for c, (lo, hi) in (stats_filter or {}).items():
                if lo is not None:
                    cond = cond & (F.col(c) >= F.lit(lo))
                if hi is not None:
                    cond = cond & (F.col(c) <= F.lit(hi))
            types = {f["name"]: f["type"] for f in m.schema_version.fields}
            for c, v in (eq_filter or {}).items():
                is_arr = types.get(c, "").startswith("array<")
                if isinstance(v, (list, tuple, set)):
                    vs = list(v)
                    if not vs:
                        cond = cond & F.lit(False)  # IN () matches nothing
                    elif is_arr:
                        # contains-ANY: file kept if any value might be
                        # present, rows matched on real overlap
                        cond = cond & F.arrays_overlap(
                            F.col(c), F.array(*[F.lit(x) for x in vs]))
                    else:
                        cond = cond & F.col(c).isin(vs)
                elif is_arr:
                    # array column: eq_filter means CONTAINS — the bloom
                    # was built over distinct elements (token point lookup)
                    cond = cond & F.array_contains(F.col(c), F.lit(v))
                else:
                    cond = cond & (F.col(c) == F.lit(v))
            return df.filter(cond)

        def _skip(fs: list[dict]) -> list[dict]:
            if stats_filter:
                fs = _stats_keep(m, fs, stats_filter)
            if eq_filter:
                fs = _bloom_keep(m, fs, eq_filter)
            return fs

        return _apply(self._resolve_files(m, files, with_row_ids=with_row_ids,
                                          skip=_skip))

    def scan_stats(self, version: int | None = None,
                   buckets: set[int] | None = None,
                   stats_filter: dict | None = None,
                   eq_filter: dict | None = None,
                   min_commit_seq: int | None = None) -> dict:
        """EXPLAIN for the manifest-level scan plan: what an identical
        read() would open and why — zero data IO, driver-side only. The
        observability face of the skipping machinery (Iceberg's scan
        report analog): at 100 TB "how many files/bytes does this
        predicate touch" is a planning question that must be answerable
        without running the scan. Mirrors read()'s selection exactly:
        bucket split, lineage floor, MOR clean/dirty (bounds-refined),
        bounds skip then bloom skip on the clean side (dirty buckets and
        delta files are always read). `bytes_*` sums cover entries that
        record file size (written by current code); `bytes_unknown_files`
        counts those that don't."""
        m = self.manifest(version)
        live = _live_data(m.files)
        sel, rest = _split_files(m, live, buckets)
        pruned_lineage = 0
        if min_commit_seq is not None:
            kept = [f for f in sel
                    if f.get("kind") == "delta"
                    or f.get("ls") is None or f["ls"] > min_commit_seq]
            pruned_lineage = len(sel) - len(kept)
            sel = kept
        deltas = [f for f in sel if f.get("kind") == "delta"]
        clean, dirty = self._mor_split(m, sel, deltas)
        after_bounds = (_stats_keep(m, clean, stats_filter)
                        if stats_filter else clean)
        after_bloom = (_bloom_keep(m, after_bounds, eq_filter)
                       if eq_filter else after_bounds)
        read_files = after_bloom + dirty + deltas

        def _sum(fs, key):
            return sum(f.get(key) or 0 for f in fs)

        return {
            "files_live": len(live),
            "files_read": len(read_files),
            "pruned_bucket": len(rest),
            "pruned_lineage": pruned_lineage,
            "pruned_bounds": len(clean) - len(after_bounds),
            "pruned_bloom": len(after_bounds) - len(after_bloom),
            "delta_files": len(deltas),
            "mor_dirty_files": len(dirty),
            "rows_live": _sum(live, "rows"),
            "rows_read": _sum(read_files, "rows"),
            "bytes_live": _sum(live, "bytes"),
            "bytes_read": _sum(read_files, "bytes"),
            "bytes_unknown_files": sum(1 for f in live
                                       if f.get("bytes") is None),
        }

    def _resolve_files(self, m: "Manifest", files: list[dict],
                       with_row_ids: bool = False,
                       skip=None) -> DataFrame:
        """Resolved rows of an arbitrary live-data-file subset: applies the
        MOR winner rule when `files` holds delta files, reads directly
        otherwise. `skip` (optional) is a manifest-level pruner applied to
        files the resolution provably does not need to join (the read()
        stats/bloom skip hook). Shared by read() and export_snapshot()."""
        if skip is None:
            skip = lambda fs: fs  # noqa: E731
        deltas = [f for f in files if f.get("kind") == "delta"]
        if not deltas:
            return self._df_for_files(m, skip(files), with_row_ids=with_row_ids)
        from ..operators.lww import lww_dedup  # lazy: avoids module cycle

        keys = [k for k in (m.properties.get("merge_keys") or "").split(",") if k]
        if not keys:
            raise ValueError(
                f"{self.name}: delta files present but no merge_keys property"
            )
        # only buckets that actually hold deltas pay the resolution shuffle;
        # clean buckets are read directly (at 10^10 scale a batch touches a
        # small fraction of buckets — the read must not re-shuffle the rest).
        # A base file is provably delta-free only when it shares the delta
        # files' bucket spec and misses their buckets: across a rebucket()
        # the same key hashes to different ids, so cross-spec base files are
        # conservatively dirty until compaction migrates them.
        clean, dirty_base = self._mor_split(m, files, deltas)
        clean = skip(clean)
        base = (
            self._df_for_files(m, dirty_base, with_row_ids=with_row_ids)
            .withColumn(_DSEQ_COL, F.lit(0).cast("bigint"))
            .withColumn(_DOP_COL, F.lit("U"))
        )
        delta = self._df_for_files(m, deltas, extra_fields=_DELTA_FIELDS,
                                   with_row_ids=with_row_ids)
        winners = lww_dedup(
            base.unionByName(delta), keys=keys, order=[_DSEQ_COL], strategy="maxby"
        )
        resolved = winners.filter(F.col(_DOP_COL) != "D").drop(_DSEQ_COL, _DOP_COL)
        if not clean:
            return resolved
        return (self._df_for_files(m, clean, with_row_ids=with_row_ids)
                .unionByName(resolved))

    def _arrow_rows(self, m: Manifest, files: list[dict]):
        """Driver-side twin of `_resolve_files(m, files, with_row_ids=True)`
        for plain data files written under the current schema version with
        no delta, posdel or eqdel state (the caller checks): one pyarrow
        Table of the current payload, `_row_id`/`_last_seq` by the v3 read
        rule (a materialized __row_id/__last_seq wins, else the file's
        first row id + position and its commit sequence) and, when the
        table is bucketed, each file's bucket id as `__bucket`."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        schema = _arrow_schema([(f["name"], f["type"])
                                for f in m.schema_version.fields])
        out = pa.schema(list(schema) + [pa.field(ROW_ID, pa.int64()),
                                        pa.field(LAST_SEQ, pa.int64())]
                        + ([pa.field(_BUCKET_COL, pa.int32())]
                           if m.bucket_key else []))
        parts = [out.empty_table()]
        for f in files:
            pf = pq.ParquetFile(os.path.join(self.root, f["path"]))
            have = set(pf.schema_arrow.names)
            t = pf.read(columns=[c for c in schema.names + [_RID_COL, _LSQ_COL]
                                 if c in have])
            n = t.num_rows
            fr, ls = f.get("fr"), f.get("ls")
            rid = (pa.array(np.arange(fr, fr + n, dtype=np.int64))
                   if fr is not None else pa.nulls(n, pa.int64()))
            lsq = pa.array(np.full(n, ls if ls is not None else 0,
                                   dtype=np.int64),
                           mask=np.full(n, ls is None))
            if _RID_COL in have:  # a rewrite materialized lineage ("ridc")
                rid = pc.coalesce(t[_RID_COL], rid)
            if _LSQ_COL in have:
                lsq = pc.coalesce(t[_LSQ_COL], lsq)
            cols = [t[c].cast(schema.field(c).type) for c in schema.names]
            cols += [rid, lsq]
            if m.bucket_key:
                cols.append(pa.array(np.full(n, f["bucket"], dtype=np.int32)))
            parts.append(pa.table(cols, schema=out))
        return pa.concat_tables(parts)

    @staticmethod
    def _mor_split(m: Manifest, files: list[dict],
                   deltas: list[dict]) -> tuple[list[dict], list[dict]]:
        """(clean, dirty) split of the non-delta files in `files` w.r.t.
        `deltas`. Clean = no delta can hold one of the file's keys:
        (a) every delta shares the file's bucket spec and misses its
        bucket, or (b) the bucket holds deltas but footer bounds on the
        merge keys prove EVERY one of them key-disjoint from this file
        (sorted tables: a delta batch on recent keys leaves the cold
        files resolution-free, so the MOR read tax is O(overlapping
        files), not O(delta buckets)). NULL keys stay conservative: a
        NULL in both sides matches under the dedup's grouping, so the
        bounds proof applies only when one side is proven null-free."""
        dmap: dict[int, set] = {}
        for f in deltas:
            dmap.setdefault(_file_nb(m, f), set()).add(f["bucket"])
        keys = [k for k in (m.properties.get("merge_keys") or "").split(",")
                if k]
        cur_by_name = {c["name"]: c for c in m.schema_version.fields}
        svs = {s.sv: s for s in m.schema_versions}

        def overlap_possible(f: dict, d: dict) -> bool:
            for col in keys:
                cf = cur_by_name.get(col)
                if cf is None:
                    continue
                fp = svs[f["sv"]].by_id().get(cf["id"])
                dp = svs[d["sv"]].by_id().get(cf["id"])
                if fp is None or dp is None:
                    continue  # a side predates the column: no proof here
                fs = f.get("stats", {}).get(fp["name"])
                ds = d.get("stats", {}).get(dp["name"])
                if fs is None or ds is None:
                    continue
                if (fp["name"] not in f.get("nn", ())
                        and dp["name"] not in d.get("nn", ())):
                    continue  # NULL key possible on BOTH sides: can match
                try:
                    if fs[1] < ds[0] or ds[1] < fs[0]:
                        return False  # provably disjoint on this key
                except TypeError:
                    continue
            return True

        def is_clean(f: dict) -> bool:
            nb = _file_nb(m, f)
            if not (set(dmap) <= {nb}):
                return False
            if f["bucket"] not in dmap.get(nb, ()):
                return True
            if not keys:
                return False
            mine = [d for d in deltas
                    if _file_nb(m, d) == nb and d["bucket"] == f["bucket"]]
            return not any(overlap_possible(f, d) for d in mine)

        base = [f for f in files
                if f.get("kind") not in ("delta", "posdel", "eqdel")]
        return [f for f in base if is_clean(f)], [f for f in base if not is_clean(f)]

    def added_rows(self, since_version: int, version: int | None = None) -> DataFrame:
        """Incremental read (Iceberg incremental-scan analog): rows in data
        files ADDED strictly after `since_version`, projected to the target
        snapshot's schema. Exact for append-only history; after a
        copy-on-write MERGE the rewritten buckets' files count as added
        (their rows are the post-merge state of those buckets) — consumers
        downstream of a CDC sink typically re-upsert by key, so replayed
        unchanged rows are harmless."""
        old = {f["path"] for f in self.manifest(since_version).files}
        m = self.manifest(version)
        new = [f for f in m.files if f["path"] not in old]
        if any(f.get("kind") in ("delta", "posdel", "eqdel") for f in new):
            # projecting delta files to the current schema would strip the
            # op/commit-seq envelope and surface deletes as upserts (and a
            # positional- or equality-delete sidecar is pure deletes) —
            # refuse instead of returning a silently-wrong feed
            raise ValueError(
                f"{self.name}: interval contains merge-on-read delta or "
                "positional-delete or equality-delete files; use "
                "changelog(since_version) (delta-only intervals) or "
                "diff(since_version) for the row-level change feed"
            )
        return self._df_for_files(m, new)

    def changed_since(self, since_version: int,
                      version: int | None = None) -> DataFrame:
        """Row-lineage incremental read (Iceberg v3 incremental scan by
        sequence number): every row of snapshot `version` (default current)
        whose `_last_seq` > `since_version` — i.e. inserted or last
        MODIFIED after that snapshot. Unlike added_rows (file granularity:
        a COW rewrite replays every carried row) this is exact at ROW
        granularity across merges, compactions, and predicate UPDATEs,
        because rewrites materialize the old `_last_seq` for rows they
        merely copy. IO is O(files committed after since_version): older
        non-delta files are pruned from the scan entirely — a carried row's
        materialized sequence can never exceed its file's own commit
        sequence, so a file with ls <= floor provably holds no qualifying
        row. An upsert-only feed: rows deleted since the floor simply
        don't appear (use changelog()/diff() when the consumer needs
        explicit deletes)."""
        df = self.read(version=version, with_row_ids=True,
                       min_commit_seq=since_version)
        return df.filter(F.col(LAST_SEQ).isNull()
                         | (F.col(LAST_SEQ) > since_version))

    def _df_for_files(self, m: Manifest, files: list[dict],
                      extra_fields: list[tuple[str, str]] | None = None,
                      apply_posdel: bool = True,
                      with_lineage: bool = False,
                      with_row_ids: bool = False) -> DataFrame:
        """Current-schema DF over `files`; `extra_fields` (name, type) are
        physical columns beyond the schema version (the MOR delta envelope),
        read and passed through verbatim.

        Outstanding positional-delete files in the snapshot are applied
        HERE (anti-join on (file basename, row index), posdel side
        broadcast) — every reader of base data funnels through this method,
        so merge/compact/diff/delete inherit posdel correctness without
        their own logic. Equality-delete sidecars (delete_keys) are applied
        the same way: rows of targeted files whose key columns match a
        deleted key are dropped (broadcast left join + file-scoped filter),
        so rows appended AFTER the equality delete — not in its target set
        — legitimately resurrect the key. `apply_posdel=False` reads raw
        physical rows (the posdel WRITE path needs them) and skips both
        delete kinds; `with_lineage=True` appends `_file`/`_pos` lineage
        columns to the output; `with_row_ids=True` appends `_row_id` =
        coalesce(physical __row_id, file first_row_id + position) — the
        Iceberg v3 row-lineage read rule."""
        cur = m.schema_version
        extra = list(extra_fields or [])
        need_lineage = with_lineage or with_row_ids
        pd_df = None
        eq_hits: list[dict] = []
        if apply_posdel:
            posdels = _posdel_entries(m.files)
            targeted = set().union(*(p["targets"] for p in posdels)) if posdels else set()
            hit = [f for f in files
                   if os.path.basename(f["path"]) in targeted
                   and f.get("kind") != "delta"]
            if hit:
                pd_df = self._posdel_df(posdels)
                need_lineage = True
            eqdels = _eqdel_entries(m.files)
            if eqdels:
                # eqdel targets INCLUDE delta files present at delete time:
                # an old delta upsert of a deleted key must die with it,
                # while a delta appended later legitimately resurrects it
                req = {os.path.basename(f["path"]) for f in files}
                eq_hits = [e for e in eqdels if req & set(e["targets"])]
                if eq_hits:
                    need_lineage = True
        if not files:
            schema = T.StructType(
                m.schema().fields
                + [T.StructField(n, _type_of(t)) for n, t in extra]
                + ([T.StructField(_PDFILE_COL, T.StringType()),
                    T.StructField(_PDPOS_COL, T.LongType())] if with_lineage else [])
                + ([T.StructField(ROW_ID, T.LongType()),
                    T.StructField(LAST_SEQ, T.LongType())] if with_row_ids else [])
            )
            return self.spark.createDataFrame([], schema)
        # group by (schema version, entry-level dseq): delta entries written
        # by current code carry their commit sequence in the MANIFEST
        # ("dseq"), not in the data — it is assigned at commit time and
        # renumbered on optimistic rebase, which is what lets concurrent
        # delta appends commute (legacy entries without "dseq" still read
        # the physical __dseq column)
        by_grp: dict[tuple[int, int | None, bool], list[str]] = {}
        for f in files:
            # files that materialized a physical __row_id (rewrites) read it;
            # grouping on the flag keeps each group's physical schema uniform
            ridc = bool(f.get("ridc")) if with_row_ids else False
            by_grp.setdefault((f["sv"], f.get("dseq"), ridc), []).append(
                os.path.join(self.root, f["path"]))
        svs = {s.sv: s for s in m.schema_versions}
        parts = []
        for (sv, dseq, ridc), paths in sorted(
                by_grp.items(),
                key=lambda kv: (kv[0][0], -1 if kv[0][1] is None else kv[0][1],
                                kv[0][2])):
            phys = svs[sv]
            phys_extra = [(n, t) for n, t in extra
                          if not (n == _DSEQ_COL and dseq is not None)]
            read_schema = T.StructType(
                phys.struct().fields
                + [T.StructField(n, _type_of(t)) for n, t in phys_extra]
                + ([T.StructField(_RID_COL, T.LongType()),
                    T.StructField(_LSQ_COL, T.LongType())] if ridc else [])
            )
            df = self.spark.read.schema(read_schema).parquet(*paths)
            phys_by_id = phys.by_id()
            cols = []
            for cf in cur.fields:
                pf = phys_by_id.get(cf["id"])
                if pf is None:  # column added after these files were written:
                    # initial-default (or NULL) — metadata-only backfill
                    cols.append(F.lit(cf.get("default")).cast(cf["type"]).alias(cf["name"]))
                else:  # rename/widen resolved by id (nested-aware)
                    cols.append(_project_field(qcol(pf["name"]), pf, cf)
                                .alias(cf["name"]))
            for n, _t in extra:
                if n == _DSEQ_COL and dseq is not None:
                    cols.append(F.lit(dseq).cast("bigint").alias(n))
                else:
                    cols.append(F.col(n))
            if with_row_ids:
                cols.append(F.col(_RID_COL) if ridc
                            else F.lit(None).cast("bigint").alias(_RID_COL))
                cols.append(F.col(_LSQ_COL) if ridc
                            else F.lit(None).cast("bigint").alias(_LSQ_COL))
            if need_lineage:
                cols += [
                    F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
                    .alias(_PDFILE_COL),
                    F.col("_metadata.row_index").alias(_PDPOS_COL),
                ]
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if pd_df is not None:
            out = out.join(F.broadcast(pd_df),
                           on=[_PDFILE_COL, _PDPOS_COL], how="left_anti")
        for i, e in enumerate(eq_hits):
            kdf = self._eqdel_df(m, e)
            kcols = list(kdf.columns)
            flag = f"__eqdel_hit_{i}"
            out = out.join(F.broadcast(kdf.withColumn(flag, F.lit(True))),
                           on=kcols, how="left")
            out = out.filter(
                ~(F.coalesce(F.col(flag), F.lit(False))
                  & F.col(_PDFILE_COL).isin(e["targets"]))
            ).drop(flag)
        if with_row_ids:
            # v3 read rule: explicit __row_id (carried by a rewrite) wins;
            # NULL inherits first_row_id + position. The (file -> fr)
            # lookup is a MAP LITERAL keyed on basename — measured ~free
            # vs ~3x scan cost for the equivalent broadcast join (the
            # merge hot path reads the target slice every batch); very
            # large file sets fall back to the join to keep the codegen
            # expression bounded. Files without "fr" (pre-feature) yield
            # NULL ids either way.
            stamped = [f for f in files if f.get("fr") is not None]
            if len(stamped) <= 1024:
                def _lookup(key):
                    vals = [f for f in stamped if f.get(key) is not None]
                    if not vals:
                        return F.lit(None).cast("bigint")
                    kv = []
                    for f in vals:
                        kv += [F.lit(os.path.basename(f["path"])),
                               F.lit(f[key])]
                    return F.element_at(F.create_map(*kv), F.col(_PDFILE_COL))
                out = (out.withColumn(ROW_ID, F.coalesce(
                           F.col(_RID_COL), _lookup("fr") + F.col(_PDPOS_COL)))
                       .withColumn(LAST_SEQ, F.coalesce(
                           F.col(_LSQ_COL), _lookup("ls")))
                       .drop(_RID_COL, _LSQ_COL))
            else:
                fr_rows = [(os.path.basename(f["path"]), f["fr"], f.get("ls"))
                           for f in stamped]
                fr_df = self.spark.createDataFrame(
                    fr_rows,
                    T.StructType([T.StructField(_PDFILE_COL, T.StringType()),
                                  T.StructField("__fr", T.LongType()),
                                  T.StructField("__ls", T.LongType())]))
                out = (out.join(F.broadcast(fr_df), on=_PDFILE_COL, how="left")
                       .withColumn(ROW_ID, F.coalesce(
                           F.col(_RID_COL), F.col("__fr") + F.col(_PDPOS_COL)))
                       .withColumn(LAST_SEQ, F.coalesce(
                           F.col(_LSQ_COL), F.col("__ls")))
                       .drop(_RID_COL, _LSQ_COL, "__fr", "__ls"))
        if need_lineage and not with_lineage:
            out = out.drop(_PDFILE_COL, _PDPOS_COL)
        return out

    def _posdel_df(self, posdels: list[dict]) -> DataFrame:
        schema = T.StructType([T.StructField(_PDFILE_COL, T.StringType()),
                               T.StructField(_PDPOS_COL, T.LongType())])
        if not posdels:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, p["path"]) for p in posdels]
        return self.spark.read.schema(schema).parquet(*paths)

    def _eqdel_df(self, m: Manifest, e: dict) -> DataFrame:
        """Deleted-key rows of one eqdel sidecar, projected to the CURRENT
        schema: key columns are stored with their write-time names/types and
        resolved forward by field id, so renames and widens after the delete
        keep matching (the same id-based mapping data files use)."""
        cur_by_id = {f["id"]: f for f in m.schema_version.fields}
        phys = T.StructType([T.StructField(n, _type_of(t))
                             for n, t in zip(e["keys"], e["ktypes"])])
        df = self.spark.read.schema(phys).parquet(
            os.path.join(self.root, e["path"]))
        cols = []
        for name, kid in zip(e["keys"], e["key_ids"]):
            cf = cur_by_id.get(kid)
            if cf is None:
                raise SchemaEvolutionError(
                    f"{self.name}: equality-delete file {e['path']} keys on "
                    f"a dropped column (field id {kid})")
            cols.append(F.col(name).cast(cf["type"]).alias(cf["name"]))
        return df.select(*cols)

    def row_count_estimate(self, version: int | None = None) -> int:
        """Manifest-only live-row estimate, NEVER IO: exact whenever no
        equality-delete sidecars are outstanding (the row_count() fast
        branch below), an upper bound otherwise (eqdel-matched rows are
        still counted — counting them exactly is precisely the IO the
        sidecar deferred). For cost models and layout heuristics that
        must stay off the data path (e.g. the merge-strategy auto
        selection on the apply critical path).

        Known bias (ADVICE r3, accepted): MOR delta rows count at face
        value, so a heavily-updated key inflates the estimate between
        compactions — bounded by horizon x batch rows (auto enforces the
        compaction horizon), i.e. at most ~horizon/crossover of the true
        size under the auto cost model's own crossover, and it resets to
        exact at every fold. Subtracting superseded delta rows would need
        cross-file key-overlap stats the manifest deliberately does not
        carry."""
        m = self.manifest(version)
        return (sum(f["rows"] for f in _live_data(m.files))
                - sum(f["rows"] for f in _posdel_entries(m.files)))

    def row_count(self, version: int | None = None) -> int:
        """Physical live rows: data+delta rows minus positionally-deleted
        rows — exact from manifest counts alone (no IO) because the posdel
        write path dedups (file,pos) pairs against outstanding posdels.
        With outstanding EQUALITY deletes the matched-row count is not
        recorded in metadata (that is the point — the delete did no IO), so
        only the targeted files are counted via IO; untargeted files still
        come free from the manifest."""
        m = self.manifest(version)
        fs = m.files
        eq = _eqdel_entries(fs)
        live = _live_data(fs)
        if not eq:
            return (sum(f["rows"] for f in live)
                    - sum(f["rows"] for f in _posdel_entries(fs)))
        dirty: set[str] = set()
        for e in eq:
            dirty.update(e["targets"])
        for p in _posdel_entries(fs):
            dirty.update(p["targets"])
        clean = [f for f in live if os.path.basename(f["path"]) not in dirty]
        t_data = [f for f in live if os.path.basename(f["path"]) in dirty
                  and f.get("kind") != "delta"]
        t_delta = [f for f in live if os.path.basename(f["path"]) in dirty
                   and f.get("kind") == "delta"]
        n = sum(f["rows"] for f in clean)
        if t_data:
            n += self._df_for_files(m, t_data).count()
        if t_delta:
            n += self._df_for_files(m, t_delta, extra_fields=_DELTA_FIELDS).count()
        return n

    def agg_push(self, aggs: list[tuple[str, str]],
                 pred: dict | None = None,
                 version: int | None = None) -> dict:
        """Metadata-accelerated aggregates (Iceberg aggregate-pushdown
        analog — COUNT(*)/COUNT(col)/MIN/MAX answered from manifest file
        stats; the reference has no read story at all). `aggs` is a list
        of (fn, col) with fn in {count, min, max}; col "*" only for count.
        `pred` is the conjunctive range predicate ({col: (lo, hi)}, either
        bound None, null-excluding SQL semantics — the stats_filter shape).

        Per live data file the answer comes from metadata when provable:
        COUNT(*) from the entry's row count when bounds prove every row
        matches (`_pred_classify` 'all'); COUNT(col) additionally needs the
        null-free proof ("nn") or a pre-add initial-default; MIN/MAX(col)
        use the footer bounds — numeric values only (string footer stats
        may be truncated: valid for SKIPPING, not exact answers). Files the
        metadata cannot answer — 'some' classification, missing proofs,
        delete-targeted (posdel/eqdel sidecars change live rows), MOR-dirty
        buckets (delta winners shadow base rows) — are scanned through the
        normal resolving read path, so the result is EXACT under every
        table state. At 100 TB `SELECT count(*) WHERE ts >= X` costs
        O(boundary files) of IO instead of a table scan.

        Returns {"<fn>_<col>": value, ..., "files": {live, metadata,
        scanned, pruned}} ("*" rendered as "star")."""
        for fn, col in aggs:
            if fn not in ("count", "min", "max") or (col == "*" and fn != "count"):
                raise ValueError(f"unsupported aggregate {fn}({col})")
        m = self.manifest(version)
        live = _live_data(m.files)
        deltas = [f for f in live if f.get("kind") == "delta"]
        clean, mor_dirty = self._mor_split(m, live, deltas)
        targeted: set[str] = set()
        for e in _posdel_entries(m.files) + _eqdel_entries(m.files):
            targeted.update(e["targets"])
        # buckets that must resolve through read(): any holding a delta or
        # a MOR-dirty base file. Every spec present gets an (empty) entry so
        # _split_files' conservative no-entry selection can't double-read.
        scan_buckets: dict[int, set[int]] = {
            _file_nb(m, f): set() for f in live}
        for f in mor_dirty + deltas:
            scan_buckets[_file_nb(m, f)].add(f["bucket"])
        cur_by_name = {c["name"]: c for c in m.schema_version.fields}
        svs = {s.sv: s for s in m.schema_versions}
        need_cols = {c for _, c in aggs if c != "*"}
        for c in set(need_cols) | set(pred or {}):
            if c not in cur_by_name:
                raise ValueError(f"agg_push on unknown column {c!r}")

        counts: dict[str, int] = {}
        mins: dict[str, list] = {c: [] for c in need_cols}
        maxs: dict[str, list] = {c: [] for c in need_cols}

        def meta_answer(f: dict) -> dict | None:
            """All requested aggregates for one file from metadata, or None
            if any needs IO."""
            phys_by_id = svs[f["sv"]].by_id()
            out: dict = {}
            for fn, col in aggs:
                if col == "*":
                    out["count_*"] = f["rows"]
                    continue
                cf = cur_by_name[col]
                pf = phys_by_id.get(cf["id"])
                if pf is None:  # pre-add file: constant initial-default
                    d = cf.get("default")
                    if fn == "count":
                        out[f"count_{col}"] = 0 if d is None else f["rows"]
                    elif d is None:
                        out[f"{fn}_{col}"] = None  # all-NULL: contributes nothing
                    elif isinstance(d, (int, float)) and not isinstance(d, bool):
                        out[f"{fn}_{col}"] = d
                    else:
                        return None
                    continue
                if fn == "count":
                    if pf["name"] in f.get("nn", ()):
                        out[f"count_{col}"] = f["rows"]
                    else:
                        return None  # null count unknown
                    continue
                s = f.get("stats", {}).get(pf["name"])
                if (s is None
                        or not isinstance(s[0], (int, float))
                        or isinstance(s[0], bool)):
                    return None  # no bounds, or non-numeric (truncation risk)
                out[f"{fn}_{col}"] = s[0] if fn == "min" else s[1]
            return out

        scan_files, n_meta, n_pruned = [], 0, 0
        for f in clean:
            if f["bucket"] in scan_buckets.get(_file_nb(m, f), ()):
                continue  # covered by the read(buckets=...) leg
            if os.path.basename(f["path"]) in targeted:
                scan_files.append(f)
                continue
            cls = _pred_classify(m, f, pred) if pred else "all"
            if cls == "none":
                n_pruned += 1
                continue
            ans = meta_answer(f) if cls == "all" else None
            if ans is None:
                scan_files.append(f)
                continue
            n_meta += 1
            for k, v in ans.items():
                if k.startswith("count"):
                    counts[k] = counts.get(k, 0) + v
                elif v is not None:
                    (mins if k.startswith("min") else maxs)[k.split("_", 1)[1]].append(v)

        parts = []
        if any(scan_buckets.values()):
            parts.append(self.read(version=m.version, buckets=scan_buckets,
                                   stats_filter=pred))
        if scan_files:
            df = self._df_for_files(m, scan_files)
            df = df.select(*[c["name"] for c in m.schema_version.fields])
            if pred:
                cond = F.lit(True)
                for c, (lo, hi) in pred.items():
                    if lo is not None:
                        cond = cond & (F.col(c) >= F.lit(lo))
                    if hi is not None:
                        cond = cond & (F.col(c) <= F.lit(hi))
                df = df.filter(cond)
            parts.append(df)
        scanned = None
        if parts:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            exprs = [F.count(F.lit(1)).alias("count_*") if c == "*"
                     else getattr(F, fn)(c).alias(f"{fn}_{c}")
                     for fn, c in aggs]
            scanned = df.agg(*exprs).first()

        result: dict = {}
        for fn, col in aggs:
            k = f"{fn}_{col}"
            sv_ = scanned[k] if scanned is not None else None
            if fn == "count":
                result[k.replace("*", "star")] = counts.get(k, 0) + (sv_ or 0)
            else:
                cands = (mins if fn == "min" else maxs)[col] + (
                    [sv_] if sv_ is not None else [])
                result[k] = (min(cands) if fn == "min" else max(cands)) \
                    if cands else None
        n_scan_bucket = sum(
            1 for f in live
            if f["bucket"] in scan_buckets.get(_file_nb(m, f), ()))
        result["files"] = {
            "live": len(live),
            "metadata": n_meta,
            "scanned": len(scan_files) + n_scan_bucket,
            "pruned": n_pruned,
        }
        return result

    # ---------- write primitives ----------

    def _write_data_files(self, df, m: Manifest,
                          extra_fields: list[tuple[str, str]] | None = None,
                          sort_by: list | None = None,
                          rows_per_file: int | None = None,
                          shuffle: bool = True) -> list[dict]:
        """Write df (current schema) as new immutable data files; returns file
        entries. If the table is bucketed, rows are routed to one file set per
        bucket via partitionBy so bucket pruning stays exact. `extra_fields`
        are physical columns written beyond the schema (MOR delta envelope).

        `sort_by` + `rows_per_file` cluster each bucket: rows are sorted
        within the bucket and split into consecutive files, so every file
        covers a narrow `sort_by` range and the footer-harvested min/max
        bounds become selective — stats_filter then prunes WITHIN a bucket,
        not just across buckets (the OPTIMIZE ... ZORDER/sort analog).

        `df` may also be a pyarrow Table (the driver-side merge,
        plans/merge.py): written with pyarrow in the same layout, see
        _write_arrow_files. Both inputs end in the same footer, bloom and
        NDV harvest.
        """
        import pyarrow.parquet as pq

        cur = m.schema()
        stats_cols = {
            f.name for f in cur.fields
            if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType,
                                       T.LongType, T.FloatType, T.DoubleType,
                                       T.StringType))
        }
        if sort_by is None:
            # table write sort order (set_sort_order): every data write —
            # append, COW merge rewrite, MOR delta, compaction — clusters
            # its rows so the per-file range index stays selective through
            # normal CDC churn instead of decaying until the next explicit
            # compact(cluster_by=...). Renamed/dropped columns fall out of
            # the intersection (order is advisory; correctness never
            # depends on it).
            so = [c for c in (m.properties.get("sort_order") or "").split(",")
                  if c]
            names = {f.name for f in cur.fields}
            so = [c for c in so if c in names]
            if so:
                sort_by = so
                if rows_per_file is None:
                    rows_per_file = int(
                        m.properties.get("sort_rows_per_file") or 0) or None
        tmp = os.path.join(self.root, f"data/.tmp-{uuid.uuid4().hex}")
        if isinstance(df, DataFrame):
            self._write_spark_files(df, m, extra_fields, sort_by,
                                    rows_per_file, shuffle, tmp)
        else:
            self._write_arrow_files(df, m, extra_fields, sort_by,
                                    rows_per_file, tmp)
        bloom_cols = {
            c for c in (m.properties.get("bloom_columns") or "").split(",") if c
        } & {f.name for f in cur.fields}
        ndv_cols = {
            c for c in (m.properties.get("ndv_columns") or "").split(",") if c
        } & {f.name for f in cur.fields}
        ndv_k = int(m.properties.get("ndv_k") or 0) or sketch.KMV_K
        srcs: list[tuple[str, int | None]] = []
        for dirpath, _dirs, fnames in os.walk(tmp):
            bucket = None
            if f"{_BUCKET_COL}=" in dirpath:
                bucket = int(dirpath.split(f"{_BUCKET_COL}=")[-1].split(os.sep)[0])
            for fn in fnames:
                if fn.endswith(".parquet"):
                    srcs.append((os.path.join(dirpath, fn), bucket))
        srcs.sort()  # deterministic entry order regardless of harvest timing

        def harvest(src: str, bucket: int | None) -> dict | None:
            pf = pq.ParquetFile(src)
            md = pf.metadata
            rows = md.num_rows
            if rows == 0:
                return None
            entry = {"path": None, "bucket": bucket, "rows": rows,
                     "sv": m.current_sv,
                     "bytes": os.path.getsize(src)}
            stats = _footer_stats(md, stats_cols)
            if stats:
                entry["stats"] = stats
            nn = _footer_nullfree(md, stats_cols)
            if nn:
                entry["nn"] = nn
            if bloom_cols:
                # equality-skip index: one small bloom per column over
                # the file's DISTINCT values (read back from the file
                # just written — local column IO, rows ~ rows_per_file).
                # Array columns hash distinct ELEMENTS (contains-skip);
                # `bloom_bits` sizes the filter for high-distinct cases
                # like token vocabularies.
                bm = int(m.properties.get("bloom_bits")
                         or 0) or bloom.BLOOM_M
                blooms = {}
                for c in bloom_cols:
                    try:
                        blooms[c] = bloom.build(
                            bloom.distinct_column_values(pf, c), bm)
                    except TypeError:
                        pass  # unsupported type: no bloom = no skipping
                if blooms:
                    entry["bloom"] = blooms
            if ndv_cols:
                # distinct-count index (Iceberg Puffin analog): one KMV
                # sketch per column over the same distinct pass the
                # bloom uses; analyze() folds these to a table NDV with
                # zero data IO (sources/sketch.py)
                kmvs = {}
                for c in ndv_cols:
                    try:
                        kmvs[c] = sketch.build(
                            bloom.distinct_column_values(pf, c), ndv_k)
                    except TypeError:
                        pass  # unsupported type: no sketch = scan later
                if kmvs:
                    entry["kmv"] = kmvs
            rel = f"data/{uuid.uuid4().hex}.parquet"
            os.replace(src, os.path.join(self.root, rel))
            entry["path"] = rel
            return entry

        # the post-write footer/bloom harvest is driver-side IO with the
        # GIL released inside pyarrow: thread it (it was a SERIAL per-file
        # loop — at 64 buckets x bloom/ndv columns this was a measurable
        # slice of the per-batch driver-serial time that caps scaling)
        if len(srcs) > 3:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(srcs))) as pool:
                harvested = list(pool.map(lambda sb: harvest(*sb), srcs))
        else:
            harvested = [harvest(*sb) for sb in srcs]
        entries: list[dict] = [e for e in harvested if e is not None]
        shutil.rmtree(tmp, ignore_errors=True)
        return entries

    def _write_spark_files(self, df: DataFrame, m: Manifest,
                           extra_fields, sort_by, rows_per_file,
                           shuffle: bool, tmp: str) -> None:
        cur = m.schema()
        cols = [qcol(f.name).cast(f.dataType).alias(f.name) for f in cur.fields]
        cols += [qcol(n).cast(t).alias(n) for n, t in extra_fields or []]
        df = df.select(*cols)
        checks = _table_checks(m)
        obs = check_names = None
        if checks:
            from pyspark.sql import Observation

            # CHECK-constraint enforcement rides the write job itself
            # (Observation API — zero extra pass over the batch, same trick
            # as the replay driver's per-batch metrics). MOR delete markers
            # ('D' rows) skip the payload checks: a delete only carries its
            # key, the rest of the row is not data.
            guard = ((F.col(_DOP_COL) != "D")
                     if _DOP_COL in df.columns else None)
            check_names = sorted(checks)
            obs = Observation()
            df = df.observe(obs, *[
                _violation_count(checks[n], guard).alias(f"c{i}")
                for i, n in enumerate(check_names)])
        if m.bucket_key:
            df = df.withColumn(_BUCKET_COL, bucket_expr(m.bucket_key, m.n_buckets))
            # one shuffle keyed by bucket: co-locates each bucket's rows so the
            # write emits few files per bucket instead of n_partitions each.
            # Callers whose partitions are already bucket-pure (the SPJ
            # operators emit one bucket per task) skip it — routing is by
            # VALUE (partitionBy), so a wrong hint only costs extra files,
            # never correctness.
            if shuffle:
                df = df.repartition(_BUCKET_COL)
            if sort_by:
                df = df.sortWithinPartitions(_BUCKET_COL, *sort_by)
            w = df.write.option("compression", _compression_of(m))
            if rows_per_file:
                w = w.option("maxRecordsPerFile", rows_per_file)
            w.partitionBy(_BUCKET_COL).parquet(tmp, mode="overwrite")
        else:
            if sort_by:
                df = df.sortWithinPartitions(*sort_by)
            w = df.write.option("compression", _compression_of(m))
            if rows_per_file:
                w = w.option("maxRecordsPerFile", rows_per_file)
            w.parquet(tmp, mode="overwrite")
        if obs is not None:
            got = obs.get  # metrics of the finished write job
            for i, n in enumerate(check_names):
                bad = got.get(f"c{i}") or 0
                if bad:
                    shutil.rmtree(tmp, ignore_errors=True)
                    raise ConstraintViolation(
                        f"{self.name}: check {n!r} ({checks[n]}) violated by "
                        f"{bad} row(s); write rejected, no snapshot committed")

    def _write_arrow_files(self, tbl, m: Manifest, extra_fields, sort_by,
                           rows_per_file, tmp: str) -> None:
        """The Spark write's layout from a pyarrow Table on the driver: one
        `__bucket=<id>` dir per bucket (ids from the input's `__bucket`
        column — the caller carries Spark-computed bucket ids, since the
        driver does not re-implement bucket_expr's hash), rows sorted by
        `sort_by` ascending with NULLs first within each bucket, split into
        consecutive files of `rows_per_file`, in the table's codec (zstd at
        parquet-mr's level 3; pyarrow's own default is 1). CHECK constraints
        are evaluated only by the Spark write, so checked tables refuse."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if _table_checks(m):
            raise ValueError(f"{self.name}: CHECK constraints need the Spark "
                             "write path")
        schema = _arrow_schema(
            [(f["name"], f["type"]) for f in m.schema_version.fields]
            + list(extra_fields or []))
        codec = _compression_of(m)
        # no dictionary: like parquet-mr falling back to PLAIN on the
        # high-cardinality token arrays, where a pyarrow dictionary page
        # measured 1.7x larger files; no embedded Arrow schema either
        opts = {"compression": "none" if codec == "uncompressed" else codec,
                "use_dictionary": False, "store_schema": False}
        if codec == "zstd":
            opts["compression_level"] = 3
        groups = [(tmp, tbl)]
        if m.bucket_key:
            ids = tbl[_BUCKET_COL].to_numpy()
            groups = [(os.path.join(tmp, f"{_BUCKET_COL}={b}"),
                       tbl.filter(pa.array(ids == b)))
                      for b in np.unique(ids)]
        for d, part in groups:
            if sort_by:
                part = part.take(pc.sort_indices(
                    part, sort_keys=[(c, "ascending") for c in sort_by],
                    null_placement="at_start"))
            part = part.select(schema.names).cast(schema)
            step = rows_per_file or max(part.num_rows, 1)
            os.makedirs(d, exist_ok=True)
            for i, off in enumerate(range(0, part.num_rows, step)):
                pq.write_table(part.slice(off, step),
                               os.path.join(d, f"part-{i:05d}.parquet"),
                               **opts)

    def _commit(
        self,
        base: Manifest,
        files: list[dict],
        properties: dict | None = None,
        schema_versions: list[SchemaVersion] | None = None,
        current_sv: int | None = None,
        next_field_id: int | None = None,
        n_buckets: int | None = None,
        bucket_key: str | None = None,
        read_keys: dict | None = None,
    ) -> Manifest:
        meta_change = (schema_versions is not None or current_sv is not None
                       or next_field_id is not None or n_buckets is not None
                       or bucket_key is not None)
        props_arg = dict(properties or {})
        t0 = time.monotonic()
        retries = 0
        while True:
            # properties inherit commit-over-commit; commit_retries is
            # per-commit observability, so it must not leak forward
            props = {**base.properties, **props_arg}
            props.pop("commit_retries", None)
            if retries:
                props["commit_retries"] = retries
            # wall-clock commit stamp (overwritten every commit): powers
            # read(as_of_us=...) / version_as_of timestamp travel
            props["committed_at_us"] = int(time.time() * 1_000_000)
            # row lineage: stamp a first_row_id onto every row-holding file
            # that lacks one (files added by this commit; also the one-time
            # lazy upgrade of pre-feature files). Stamping happens on COPIES
            # and re-runs per rebase attempt from the new base's counter, so
            # a losing race never burns or duplicates id ranges.
            files = [
                dict(f) if (f.get("kind") not in ("posdel", "eqdel")
                            and ("fr" not in f or "__fr_new" in f))
                else f
                for f in files
            ]
            nid = base.next_row_id
            for f in files:
                if f.get("kind") in ("posdel", "eqdel"):
                    continue
                if "fr" not in f or "__fr_new" in f:
                    f["fr"] = nid
                    f["__fr_new"] = True
                    nid += f["rows"]
                    # commit sequence for _last_seq inheritance; strictly
                    # above every ls already in `base` (versions are
                    # monotone per head), re-stamped per rebase attempt
                    f["ls"] = base.version + 1
            m = Manifest(
                version=base.version + 1,
                parent=base.version,
                n_buckets=base.n_buckets if n_buckets is None else n_buckets,
                bucket_key=base.bucket_key if bucket_key is None else bucket_key,
                current_sv=base.current_sv if current_sv is None else current_sv,
                schema_versions=schema_versions or base.schema_versions,
                files=[{k: v for k, v in f.items() if k != "__fr_new"}
                       if "__fr_new" in f else f
                       for f in files],
                properties=props,
                next_field_id=base.next_field_id if next_field_id is None else next_field_id,
                next_row_id=nid,
            )
            # all heads (CURRENT + branches) share one global version sequence;
            # a vN.json collision therefore means either (a) another HEAD took
            # the number — ours is untouched, so take the next free number (the
            # parent pointer, not the number, records lineage) — or (b) a real
            # same-head race, resolved by optimistic rebase when the two
            # commits provably commute (Iceberg retry-with-validation analog),
            # else surfaced as CommitConflict.
            committed = True
            while True:
                try:
                    self._write_manifest(m, parent=base)
                    break
                except CommitConflict:
                    if self.current_version() != base.version:
                        committed = False
                        break
                    m.version += 1
            if committed:
                # snapshot-publish latency (metadata swap only, excludes data
                # write); surfaced in checkpoint metrics so per-batch lineage
                # shows how much of the apply was commit overhead.
                self.last_commit_s = time.monotonic() - t0
                return m
            retries += 1
            if retries > 5 or meta_change:
                raise CommitConflict(
                    f"{self.name}: concurrent commit advanced {self.ref} past "
                    f"v{base.version}" + (" during a schema/bucket-spec change"
                                          if meta_change else
                                          f" ({retries} rebase attempts)"))
            cur = self.manifest()
            files = self._rebase_files(base, cur, files,
                                       read_keys=read_keys)
            base = cur

    def _rebase_files(self, base: Manifest, cur: Manifest,
                      files: list[dict],
                      read_keys: dict | None = None) -> list[dict]:
        """Rebase this commit's file delta (computed against `base`) onto the
        concurrent winner's snapshot `cur` — Iceberg optimistic-concurrency
        retry with serializable validation. Allowed only when the histories
        provably commute; raises CommitConflict otherwise.

        Validation (read-set = files we removed or replaced-in-place, plus
        the targets of any positional-delete sidecar we wrote):
          * winner changed schema / bucket spec / field ids -> conflict;
          * winner removed or replaced anything in our read-set -> conflict
            (we resolved those rows; the winner's rewrite would be lost);
          * winner removed or replaced a file our posdel sidecar targets ->
            conflict (our (file,pos) pairs would silently resurrect rows);
          * winner's posdel additions targeting our read-set -> conflict
            (their deletes died inside our rewrite);
          * winner added data/delta files into a bucket we rewrote ->
            conflict (our merge/compact/delete never saw those rows);
          * both sides appended MOR delta files AND ours are legacy
            physical-__dseq files -> conflict (the stamped base.version+1
            would tie the winner's and LWW turns nondeterministic).
        Delta entries carrying their dseq in the MANIFEST (current write
        path) are renumbered to the rebased commit's version instead, so
        concurrent delta appends commute — serialized by commit order.
        Pure appends therefore always rebase; rewriting commits rebase over
        appends to OTHER buckets and over disjoint rewrites."""
        if (cur.current_sv != base.current_sv
                or cur.n_buckets != base.n_buckets
                or cur.bucket_key != base.bucket_key
                or cur.next_field_id != base.next_field_id
                or len(cur.schema_versions) != len(base.schema_versions)):
            raise CommitConflict(
                f"{self.name}: concurrent schema/bucket-spec change")
        if _table_checks(cur) != _table_checks(base):
            # our data files were written (and Observation-validated)
            # against base's constraint set; rebasing past a check change
            # would commit rows the new check never saw
            raise CommitConflict(
                f"{self.name}: concurrent check-constraint change")
        base_by = {f["path"]: f for f in base.files}
        ours_by = {f["path"]: f for f in files}
        added = [f for f in files if base_by.get(f["path"]) != f]
        added_paths = {f["path"] for f in added}
        removed = {p for p in base_by if p not in ours_by}
        updated = {p for p in added_paths if p in base_by}
        read_set = removed | updated
        pd_targets = set()
        for f in added:
            if f.get("kind") in ("posdel", "eqdel"):
                pd_targets.update(f["targets"])
        cur_by = {f["path"]: f for f in cur.files}
        w_removed = {p for p in base_by if p not in cur_by}
        w_updated = {p for p, e in cur_by.items()
                     if p in base_by and base_by[p] != e}
        w_added = [e for p, e in cur_by.items() if p not in base_by]
        w_touched = w_removed | w_updated
        if w_touched & read_set:
            raise CommitConflict(
                f"{self.name}: concurrent commit rewrote files this commit "
                "resolved")
        w_touched_base = {os.path.basename(p) for p in w_touched}
        if pd_targets & w_touched_base:
            raise CommitConflict(
                f"{self.name}: concurrent commit rewrote files targeted by "
                "this commit's positional/equality deletes")
        read_base = {os.path.basename(p) for p in read_set}
        touched_buckets = {
            (_file_nb(base, base_by[p]), base_by[p].get("bucket"))
            for p in read_set
            if base_by[p].get("kind") not in ("posdel", "eqdel")}
        our_legacy_delta = any(f.get("kind") == "delta" and f.get("dseq") is None
                               for f in added)
        for e in w_added:
            if e.get("kind") in ("posdel", "eqdel"):
                if set(e["targets"]) & read_base:
                    raise CommitConflict(
                        f"{self.name}: concurrent positional/equality "
                        "deletes target files this commit rewrote")
                continue
            if e.get("kind") == "delta" and our_legacy_delta:
                raise CommitConflict(
                    f"{self.name}: concurrent MOR delta appends with a "
                    "physically-stamped __dseq (tie)")
            # imported files (add_files, spec nb=0) carry no bucket proof:
            # they overlap EVERY bucket, both as the winner's addition and
            # as a member of our read-set
            eb = (_file_nb(cur, e), e.get("bucket"))
            if read_set and (eb in touched_buckets or eb == (0, None)
                             or (0, None) in touched_buckets):
                # key-disjoint exception (multi-writer fan-in): when this
                # commit is a keyed MERGE carrying its staged key values,
                # a winner file whose bounds/bloom PROVE none of those
                # keys present commutes — serial-order equivalence: the
                # winner's rows are not ours to read (not staged), stay
                # live in the final manifest, and cannot duplicate a key
                # we inserted. Absence of proof falls back to conflict.
                if read_keys and _merge_key_prunable(cur, [e], read_keys)[0]:
                    continue
                raise CommitConflict(
                    f"{self.name}: concurrent append into a bucket this "
                    "commit rewrote")
        # serialize our delta batch after everything already committed:
        # entry-level dseq renumbers to the rebased commit's version
        added = [{**f, "dseq": cur.version + 1}
                 if f.get("kind") == "delta" and f.get("dseq") is not None
                 else f for f in added]
        return ([e for e in cur.files
                 if e["path"] not in read_set and e["path"] not in added_paths]
                + added)

    # ---------- load modes (SURVEY §2.B) ----------

    def append(self, df: DataFrame, properties: dict | None = None,
               bucket_local: bool = False) -> Manifest:
        """Bag-semantics append — UNION ALL insert (ref B2/B3,
        DatabricksOutputConnection.java:234-248). `bucket_local=True`
        declares the input's partitions bucket-pure for THIS table's
        bucket spec (one bucket per task — what operators/spj.py emits
        when source and target share key + n_buckets), skipping the
        write-side co-locating shuffle: a derived-table pipeline
        read -> bucket_join/bucket_agg -> append then moves no data at
        all. The hint is safe: rows route to buckets by value either way,
        a wrong hint only costs extra files per bucket."""
        base = self.manifest()
        new = self._write_data_files(df, base, shuffle=not bucket_local)
        props = dict(properties or {})
        props.setdefault("operation", "append")
        return self._commit(base, base.files + new, props)

    def overwrite(self, df: DataFrame, properties: dict | None = None) -> Manifest:
        """truncate_insert: old rows gone, new rows present, one atomic
        snapshot (ref B4, README.md:58-61)."""
        base = self.manifest()
        new = self._write_data_files(df, base)
        props = dict(properties or {})
        props.setdefault("operation", "overwrite")
        return self._commit(base, new, props)

    def replace(self, df: DataFrame, schema: T.StructType | None = None,
                properties: dict | None = None) -> Manifest:
        """replace: atomic table swap, optionally with a new schema — the
        drop-and-rename of the reference (B5, README.md:62-65) collapses to a
        single snapshot commit here."""
        base = self.manifest()
        if schema is not None:
            fields = [
                {"id": base.next_field_id + i, "name": f.name,
                 "type": f.dataType.simpleString(), "nullable": f.nullable}
                for i, f in enumerate(schema.fields)
            ]
            sv = SchemaVersion(base.current_sv + 1, fields)
            staged = Manifest(**{
                **{k: v for k, v in base.__dict__.items() if not k.startswith("_")},
                "schema_versions": base.schema_versions + [sv],
                "current_sv": sv.sv})
            new = self._write_data_files(df, staged)
            props = dict(properties or {})
            props.setdefault("operation", "replace")
            return self._commit(base, new, props,
                                schema_versions=staged.schema_versions,
                                current_sv=sv.sv,
                                next_field_id=base.next_field_id + len(fields))
        new = self._write_data_files(df, base)
        props = dict(properties or {})
        props.setdefault("operation", "replace")
        return self._commit(base, new, props)

    def export_snapshot(self, dest: str, version: int | None = None) -> dict:
        """Materialize one snapshot as PLAIN parquet under `dest` — the
        outbound twin of add_files, for consumers that speak parquet but not
        this table format (training jobs read file lists, not catalogs; the
        reference has no read/export story at all — it is a write-only
        sink). Zero-copy where provably safe:

          * a data file is HARDLINKED verbatim (copy fallback across
            filesystems) iff its physical bytes already equal the resolved
            current-schema rows: written at the CURRENT schema version (no
            rename/widen/default projection pending), no materialized
            lineage columns ("ridc"), not targeted by any outstanding
            positional/equality delete, and not in a MOR-delta-dirty bucket;
          * everything else — delta-dirty buckets, delete-targeted files,
            old-schema files — is RESOLVED through the normal read path and
            rewritten into `dest`.

        At 10^10 scale a maintained table (compacted, deltas folded) exports
        almost entirely by link: cost O(files) inode ops + O(dirty bytes),
        never O(table bytes). Readers get `spark.read.parquet(dest)` ==
        `table.read(version)` (checked by tests/test_export.py), plus an
        `_export_manifest.json` recording provenance {table, version,
        schema, linked, rewritten} for reproducible-training-run audits.
        Returns {"linked": n, "rewritten_files": n, "rows": n, "dest": dest}.
        """
        m = self.manifest(version)
        os.makedirs(dest, exist_ok=True)
        if os.listdir(dest):
            raise ValueError(f"export dest not empty: {dest}")
        linked, rest, fp = self._export_plan(m)
        for f in linked:
            self._link_or_copy(os.path.join(self.root, f["path"]),
                               os.path.join(dest, os.path.basename(f["path"])))
        rewritten = self._export_rewrite(m, rest, dest)
        return self._write_export_manifest(m, dest, linked, rewritten, fp,
                                           version)

    def _export_plan(self, m: "Manifest"):
        """Split one snapshot's live files into (linked, rest, fingerprint):
        `linked` export verbatim, `rest` must resolve through the read path.
        The fingerprint hashes everything the REWRITTEN output depends on —
        the full manifest entries of `rest` (incl. delta commit seq / spec),
        every delete sidecar entry, the projected schema and merge keys — so
        sync_export can prove the previous rewrite artifacts are still
        byte-valid and skip re-resolving them."""
        live = _live_data(m.files)
        deltas = [f for f in live if f.get("kind") == "delta"]
        clean, _dirty = (self._mor_split(m, live, deltas) if deltas
                         else (live, []))
        posdel_targets = set().union(
            *(p["targets"] for p in _posdel_entries(m.files))) \
            if _posdel_entries(m.files) else set()
        eqdel_targets = set().union(
            *(e["targets"] for e in _eqdel_entries(m.files))) \
            if _eqdel_entries(m.files) else set()

        def _linkable(f: dict) -> bool:
            return (f.get("kind") != "delta"
                    and f["sv"] == m.current_sv
                    and not f.get("ridc")
                    and os.path.basename(f["path"]) not in posdel_targets
                    and os.path.basename(f["path"]) not in eqdel_targets)

        linked = [f for f in clean if _linkable(f)]
        linked_set = {f["path"] for f in linked}
        rest = [f for f in live if f["path"] not in linked_set]
        basis = {
            "rest": sorted((json.dumps(f, sort_keys=True) for f in rest)),
            "sidecars": sorted(
                json.dumps(f, sort_keys=True)
                for f in _posdel_entries(m.files) + _eqdel_entries(m.files)),
            "schema": m.schema().simpleString(),
            "merge_keys": m.properties.get("merge_keys", ""),
        }
        fp = hashlib.sha256(
            json.dumps(basis, sort_keys=True).encode()).hexdigest()
        return linked, rest, fp

    @staticmethod
    def _link_or_copy(src: str, dst: str) -> None:
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)

    def _export_rewrite(self, m: "Manifest", rest: list[dict],
                        dest: str) -> int:
        """Resolve `rest` through the read path and land the rows in `dest`
        as `rewrite-*.parquet`; returns the file count."""
        if not rest:
            return 0
        rewritten = 0
        tmp = os.path.join(dest, "_rewrite")
        self._resolve_files(m, rest).write.parquet(tmp)
        for fn in os.listdir(tmp):
            if fn.endswith(".parquet"):
                os.replace(os.path.join(tmp, fn),
                           os.path.join(dest, f"rewrite-{fn}"))
                rewritten += 1
        shutil.rmtree(tmp, ignore_errors=True)
        return rewritten

    def _write_export_manifest(self, m: "Manifest", dest: str,
                               linked: list[dict], rewritten: int,
                               fp: str, version: int | None) -> dict:
        rec = {
            "table": self.name,
            "version": m.version,
            "schema": m.schema().simpleString(),
            "linked": len(linked),
            "rewritten_files": rewritten,
            "rows": self.row_count(version),
            "dest": dest,
            "linked_files": sorted(os.path.basename(f["path"])
                                   for f in linked),
            "rewrite_fp": fp,
        }
        with open(os.path.join(dest, "_export_manifest.json"), "w") as fh:
            json.dump(rec, fh, indent=1)
        return rec

    def sync_export(self, dest: str, version: int | None = None) -> dict:
        """Advance an existing export_snapshot directory to a newer snapshot
        at O(changed files) cost — the outbound twin of changed_since, and
        the mirror-maintenance story export_snapshot alone lacks (a nightly
        full re-export of a 100 TB corpus is the anti-pattern; the reference
        can only ever reload everything, README.md:58-61). Diff-driven:

          * linked files present in both plans are KEPT (no inode op);
          * linked files the new snapshot dropped (compacted, deleted,
            rewritten) are UNLINKED from `dest`;
          * newly linkable files are hardlinked in;
          * the rewrite artifacts (resolved MOR/delete/old-schema rows) are
            reused verbatim iff the recorded rewrite fingerprint — a hash
            over the rest-file manifest entries, delete sidecars, projected
            schema, and merge keys — is unchanged; otherwise they are
            deleted and re-resolved.

        On an append-mostly maintained table a sync is pure links of the
        new files: zero data IO. Readers of `dest` between syncs see the
        previous consistent snapshot (files are replaced, never mutated
        in place). Returns {"kept","linked_added","removed",
        "rewritten_files","rows","version",...} and refreshes
        `_export_manifest.json`.
        """
        mf_path = os.path.join(dest, "_export_manifest.json")
        if not os.path.exists(mf_path):
            raise ValueError(
                f"no _export_manifest.json in {dest}: run export_snapshot")
        with open(mf_path) as fh:
            prev = json.load(fh)
        if prev.get("table") != self.name:
            raise ValueError(
                f"export dir belongs to table {prev.get('table')!r}, "
                f"not {self.name!r}")
        if "linked_files" not in prev or "rewrite_fp" not in prev:
            raise ValueError("export manifest predates sync support: "
                             "re-run export_snapshot")
        m = self.manifest(version)
        linked, rest, fp = self._export_plan(m)
        new_names = {os.path.basename(f["path"]): f for f in linked}
        old_names = set(prev["linked_files"])
        removed = sorted(old_names - set(new_names))
        added = sorted(set(new_names) - old_names)
        for name in removed:
            os.remove(os.path.join(dest, name))
        for name in added:
            self._link_or_copy(
                os.path.join(self.root, new_names[name]["path"]),
                os.path.join(dest, name))
        rewrite_reused = (fp == prev["rewrite_fp"])
        if rewrite_reused:
            rewritten = prev["rewritten_files"]
        else:
            for fn in os.listdir(dest):
                if fn.startswith("rewrite-") and fn.endswith(".parquet"):
                    os.remove(os.path.join(dest, fn))
            rewritten = self._export_rewrite(m, rest, dest)
        rec = self._write_export_manifest(m, dest, linked, rewritten, fp,
                                          version)
        rec.update({"kept": len(old_names & set(new_names)),
                    "linked_added": len(added), "removed": len(removed),
                    "rewrite_reused": rewrite_reused})
        return rec

    def add_files(self, paths, properties: dict | None = None) -> Manifest:
        """Register EXISTING parquet files with a metadata-only commit — no
        row is read or rewritten (Iceberg add_files / snapshot-migrate
        analog; the reference can only onboard data by re-loading every
        byte through COPY INTO, DatabricksOutputConnection.java:85-122).
        This is the 100 TB onboarding path: cost is O(files) footer reads;
        files are hardlinked into the table root where the filesystem
        allows, copied otherwise (on an object store this degrades to a
        server-side copy — still no read/decode/shuffle/rewrite).

        Imported files carry no bucket assignment: they are stamped with
        the reserved spec "nb"=0, which readers treat as unprunable
        (_split_files always selects it), MOR resolution treats as dirty
        (_mor_split), the optimistic-concurrency rebase treats as
        overlapping every bucket, and compact() migrates into the current
        spec lazily — the same machinery as rebucket(). Footer min/max
        stats and null-free proofs are harvested at import, so range
        skipping and predicate DML work on imported files immediately;
        bloom filters are not (they need a data read) and arrive with
        compaction, exactly like set_bloom_columns.

        `paths` is a parquet file, a directory of them, or a list of
        either. Every file must physically contain each current-schema
        column with the exact type (resolved via Arrow; extra columns are
        ignored by the projection, but reserved physical names are
        rejected). Zero-row files are skipped. Row lineage (first_row_id /
        commit seq) is minted at commit like any other append."""
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_type

        if isinstance(paths, str):
            paths = [paths]
        expanded: list[str] = []
        for p in paths:
            if os.path.isdir(p):
                expanded += sorted(
                    os.path.join(p, fn) for fn in os.listdir(p)
                    if fn.endswith(".parquet"))
            elif os.path.isfile(p):
                expanded.append(p)
            else:
                raise ValueError(f"{self.name}: add_files: no such path {p!r}")
        if not expanded:
            raise ValueError(f"{self.name}: add_files found no parquet files")
        base = self.manifest()
        cur = base.schema_version
        reserved = {_BUCKET_COL, _DSEQ_COL, _DOP_COL, _RID_COL, _LSQ_COL,
                    _PDFILE_COL, _PDPOS_COL, ROW_ID, LAST_SEQ}
        stats_cols = {
            f["name"] for f in cur.fields
            if f["type"] in ("tinyint", "smallint", "int", "bigint",
                             "float", "double", "string")
        }
        new: list[dict] = []
        linked: list[str] = []
        try:
            for src in expanded:
                pf = pq.ParquetFile(src)
                md = pf.metadata
                file_types = {}
                for fld in pf.schema_arrow:
                    try:
                        file_types[fld.name] = from_arrow_type(
                            fld.type).simpleString()
                    except Exception:
                        file_types[fld.name] = f"<unmapped:{fld.type}>"
                bad = reserved & set(file_types)
                if bad:
                    raise SchemaEvolutionError(
                        f"{self.name}: {src} carries reserved physical "
                        f"column(s) {sorted(bad)}")
                for cf in cur.fields:
                    got = file_types.get(cf["name"])
                    if got is None:
                        raise SchemaEvolutionError(
                            f"{self.name}: {src} lacks column {cf['name']!r}")
                    if got != cf["type"]:
                        raise SchemaEvolutionError(
                            f"{self.name}: {src} column {cf['name']!r} is "
                            f"{got}, table needs {cf['type']} (add_files is "
                            "metadata-only: no cast/rewrite — load it "
                            "through append() instead)")
                if md.num_rows == 0:
                    continue
                entry = {"path": None, "bucket": None, "nb": 0,
                         "rows": md.num_rows, "sv": base.current_sv,
                         "imported": True,
                         "bytes": os.path.getsize(src)}
                stats = _footer_stats(md, stats_cols)
                if stats:
                    entry["stats"] = stats
                nn = _footer_nullfree(md, stats_cols)
                if nn:
                    entry["nn"] = nn
                rel = f"data/{uuid.uuid4().hex}.parquet"
                dst = os.path.join(self.root, rel)
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)
                linked.append(dst)
                entry["path"] = rel
                new.append(entry)
            if not new:
                return base
            props = dict(properties or {})
            props.setdefault("operation", "add_files")
            return self._commit(base, base.files + new, props)
        except BaseException:
            for dst in linked:  # imported files are ours to clean; the
                try:            # sources are untouched either way
                    os.unlink(dst)
                except OSError:
                    pass
            raise

    def append_delta(self, df: DataFrame, merge_keys: list[str],
                     properties: dict | None = None) -> Manifest:
        """Merge-on-read write path (Iceberg v2 row-level-delta analog; the
        copy-on-write alternative for write-heavy CDC): the staged batch —
        payload columns plus an optional `__op` I/U/D — is APPENDED as
        bucket-partitioned delta files instead of rewriting target buckets.
        read() resolves deltas per merge key (highest commit sequence wins,
        winning 'D' drops the key); compact_deltas() folds them into base.

        Write cost per batch is O(batch) regardless of table size — the
        10^10-event lever when batches are frequent and the table is wide.
        Read cost grows with outstanding delta files, so deployments pair
        this with periodic compaction (JobConfig.mor_compact_every).

        Intended for merge-managed tables: rows in BASE files must be unique
        per merge key (bag-append rows would be deduped arbitrarily).
        """
        if not merge_keys:
            raise ValueError("append_delta requires merge_keys")
        base = self.manifest()
        # the MOR read/compaction clean-bucket split assumes a key's delta
        # lands in the SAME bucket as its base row — true only when the
        # bucket key is a merge key. Reject the unsound layout up front
        # (the engine's ensure_table always buckets by merge_keys[0]).
        if base.bucket_key and base.bucket_key not in merge_keys:
            raise ValueError(
                f"{self.name}: merge-on-read requires the bucket key "
                f"{base.bucket_key!r} to be a merge key (got {merge_keys})"
            )
        prev = base.properties.get("merge_keys")
        if prev and prev != ",".join(merge_keys):
            raise ValueError(
                f"{self.name}: merge_keys {merge_keys} != table's {prev!r}")
        if _DOP_COL not in df.columns:
            df = df.withColumn(_DOP_COL, F.lit("U"))
        # commit sequence lives in the MANIFEST ENTRY, not the data: it is
        # assigned here optimistically and renumbered by _rebase_files if
        # the commit loses a race — physical stamping would freeze the
        # ordering and force concurrent delta appends to conflict
        new = self._write_data_files(df, base, extra_fields=[(_DOP_COL, "string")])
        for e in new:
            e["kind"] = "delta"
            e["dseq"] = base.version + 1
        props = {"merge_keys": ",".join(merge_keys), **(properties or {})}
        props.setdefault("operation", "append-delta")
        return self._commit(base, base.files + new, props)

    def compact_deltas(self, properties: dict | None = None,
                       broadcast_threshold_rows: int = 500_000) -> Manifest | None:
        """Fold every outstanding delta into base files (one atomic snapshot):
        buckets holding deltas are rewritten; others untouched. Small delta
        sets (<= broadcast_threshold_rows physical delta rows) fold via the
        zero-target-shuffle broadcast plan — delta winners are LWW-reduced
        (tiny shuffle) then broadcast-merged into the dirty buckets' base,
        so a large base never shuffles; bigger backlogs use the resolved
        read (maxby over base∪delta). Returns None when nothing to fold."""
        base = self.manifest()
        delta_files = [f for f in base.files if f.get("kind") == "delta"]
        if not delta_files:
            return None
        keys = [k for k in (base.properties.get("merge_keys") or "").split(",") if k]
        if not keys:
            raise ValueError(
                f"{self.name}: delta files present but no merge_keys property")
        # same clean/dirty classification as read(): after a rebucket, base
        # files still on the old spec are conservatively dirty — compaction
        # rewrites them under the CURRENT spec, i.e. it IS the incremental
        # spec migration (Iceberg rewrite_data_files after spec evolution)
        keep, dirty_base = self._mor_split(base, base.files, delta_files)
        n_delta_rows = sum(f["rows"] for f in delta_files)
        if n_delta_rows <= broadcast_threshold_rows:
            from ..operators.lww import lww_dedup
            from ..plans.merge import broadcast_upsert_plan  # lazy: cycle-safe

            payload = [f["name"] for f in base.schema_version.fields]
            winners = lww_dedup(
                self._df_for_files(base, delta_files, extra_fields=_DELTA_FIELDS,
                                   with_row_ids=True),
                keys=keys, order=[_DSEQ_COL], strategy="maxby",
            ).select(*payload, ROW_ID, LAST_SEQ, F.col(_DOP_COL).alias("op"))
            df = broadcast_upsert_plan(
                self._df_for_files(base, dirty_base, with_row_ids=True),
                self._df_for_files(base, dirty_base).select(*keys),
                winners, keys, payload, has_op=True, support_deletes=True,
            )
        else:
            from ..operators.lww import lww_dedup

            b = (self._df_for_files(base, dirty_base, with_row_ids=True)
                 .withColumn(_DSEQ_COL, F.lit(0).cast("bigint"))
                 .withColumn(_DOP_COL, F.lit("U")))
            d = self._df_for_files(base, delta_files, extra_fields=_DELTA_FIELDS,
                                   with_row_ids=True)
            w = lww_dedup(b.unionByName(d), keys=keys,
                          order=[_DSEQ_COL], strategy="maxby")
            df = w.filter(F.col(_DOP_COL) != "D").drop(_DSEQ_COL, _DOP_COL)
        # folded rows keep their lineage (base keeps, delta winner carries its own)
        df, lineage_extra = _carry_lineage(df)
        new = self._write_data_files(df, base, extra_fields=lineage_extra)
        for e in new:
            e["ridc"] = True
        props = dict(properties or {})
        props.setdefault("operation", "compact_deltas")
        keep += self._prune_posdels(base.files, keep)
        keep += self._prune_eqdels(base.files, keep)
        return self._commit(base, keep + new, props)

    def delete_where(self, pred: dict, properties: dict | None = None,
                     mode: str = "cow") -> Manifest:
        """Row-level DELETE by conjunctive range predicate ({col: (lo, hi)},
        either bound None; null-excluding SQL semantics — the stats_filter
        shape) planned file-by-file from manifest bounds (Iceberg
        metadata-delete analog; the reference has no delete story at all —
        its truncate mode drops everything, README.md:58-61):

          * files whose bounds prove NO row matches — untouched, zero IO;
          * files whose bounds + null-free proof show EVERY row matches —
            dropped from the manifest, zero IO;
          * boundary/unproven files: `mode="cow"` rewrites them (scan +
            anti-filter); `mode="mor"` writes POSITIONAL-DELETE files
            instead (Iceberg v2 position-delete analog) — one small
            (_file, _pos) sidecar marking the matched rows, the boundary
            files keep their exact paths, and readers anti-join the pair
            (applied centrally in _df_for_files). Write cost becomes
            O(matched boundary rows), not O(boundary file bytes); a later
            compact() folds the posdels away.

        At 100 TB a retention delete (ts < horizon) on a time-clustered
        table drops almost every affected file in metadata and touches
        only the horizon-straddling files — with "mor", barely even those.
        With outstanding MOR DELTA files, delta-dirty buckets resolve
        winners first and rewrite (a delta row can move a key into or out
        of range); clean buckets still take the fast paths. (file,pos)
        pairs are deduped against outstanding posdels at write, keeping
        manifest row accounting exact."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown delete mode {mode!r}")
        base = self.manifest()
        keep, new, stats = self._delete_plan(base, pred, mode)
        props = dict(properties or {})
        props.setdefault("operation", "delete_where")
        props.update(stats)
        keep += self._prune_posdels(base.files, keep)
        keep += self._prune_eqdels(base.files, keep)
        return self._commit(base, keep + new, props)

    def overwrite_where(self, pred: dict, df: DataFrame,
                        properties: dict | None = None,
                        mode: str = "cow") -> Manifest:
        """Atomic slice restatement (Iceberg overwriteByRowFilter /
        static-overwrite analog; the reference's closest gesture is
        truncate-everything-then-insert, README.md:58-61): delete every
        row matching `pred` AND insert `df` in ONE snapshot commit —
        readers see the old slice or the new slice, never neither and
        never both. The delete leg reuses the manifest-bounds plan
        (zero-IO metadata drops and skips; mode='mor' writes posdel
        sidecars instead of rewriting boundary files); the insert leg
        writes ordinary bucket-partitioned files.

        This is the backfill/restatement primitive a training pipeline
        needs: at 100 TB, recomputing one corrupted day = drop that day's
        files in metadata + write the recomputed day. `df` is NOT
        filtered against `pred` — the caller owns the restated content
        (Iceberg static-overwrite semantics)."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown overwrite mode {mode!r}")
        base = self.manifest()
        keep, new, stats = self._delete_plan(base, pred, mode)
        new += self._write_data_files(df, base)
        props = dict(properties or {})
        props.setdefault("operation", "overwrite_where")
        props.update(stats)
        keep += self._prune_posdels(base.files, keep)
        keep += self._prune_eqdels(base.files, keep)
        return self._commit(base, keep + new, props)

    def _delete_plan(self, base: Manifest, pred: dict, mode: str
                     ) -> tuple[list[dict], list[dict], dict]:
        """Shared planning for delete_where/overwrite_where: classify every
        file against the predicate bounds, resolve MOR-dirty buckets, write
        rewrite/posdel outputs. Returns (kept entries, new entries, stats
        properties) — the caller commits."""
        deltas = [f for f in base.files if f.get("kind") == "delta"]
        clean, dirty = self._mor_split(base, base.files, deltas)
        keep, rewrite = [], []
        dropped = 0
        for f in clean:
            cls = _pred_classify(base, f, pred)
            if cls == "none":
                keep.append(f)
            elif cls == "all":
                dropped += 1
            else:
                rewrite.append(f)
        cond = F.lit(True)
        for c, (lo, hi) in pred.items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
        hit = F.coalesce(cond, F.lit(False))
        survive = ~hit  # NULL never matches
        parts: list[DataFrame] = []
        new: list[dict] = []
        if rewrite and mode == "mor":
            # raw physical rows + lineage; matched (file,pos) pairs become
            # the delete sidecar — deduped against posdels already covering
            # these targets so `rows` counts stay exact
            raw = self._df_for_files(base, rewrite, apply_posdel=False,
                                     with_lineage=True)
            matched = raw.filter(hit).select(_PDFILE_COL, _PDPOS_COL)
            prior = _posdel_entries(base.files)
            if prior:
                matched = matched.join(
                    F.broadcast(self._posdel_df(prior)),
                    on=[_PDFILE_COL, _PDPOS_COL], how="left_anti")
            targets = sorted(os.path.basename(f["path"]) for f in rewrite)
            new += self._write_posdel_files(matched, targets)
            keep += rewrite  # boundary files keep their exact paths
        elif rewrite:
            parts.append(self._df_for_files(base, rewrite, with_row_ids=True)
                         .filter(survive))
        if deltas:
            from ..operators.lww import lww_dedup  # lazy: avoids module cycle

            keys = [k for k in (base.properties.get("merge_keys") or "").split(",") if k]
            if not keys:
                raise ValueError(
                    f"{self.name}: delta files present but no merge_keys property")
            b = (self._df_for_files(base, dirty, with_row_ids=True)
                 .withColumn(_DSEQ_COL, F.lit(0).cast("bigint"))
                 .withColumn(_DOP_COL, F.lit("U")))
            d = self._df_for_files(base, deltas, extra_fields=_DELTA_FIELDS,
                                   with_row_ids=True)
            w = lww_dedup(b.unionByName(d), keys=keys,
                          order=[_DSEQ_COL], strategy="maxby")
            parts.append(w.filter(F.col(_DOP_COL) != "D")
                         .drop(_DSEQ_COL, _DOP_COL).filter(survive))
        if parts:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            # surviving rows keep their row lineage through the rewrite
            df, lineage_extra = _carry_lineage(df)
            rw = self._write_data_files(df, base, extra_fields=lineage_extra)
            for e in rw:
                e["ridc"] = True
            new += rw
        stats: dict = {"delete_dropped_files": dropped}
        if mode == "mor":
            stats["delete_rewritten_files"] = len(dirty) + len(deltas)
            stats["delete_posdel_files"] = sum(
                1 for e in new if e.get("kind") == "posdel")
            stats["delete_posdel_rows"] = sum(
                e["rows"] for e in new if e.get("kind") == "posdel")
        else:
            stats["delete_rewritten_files"] = len(rewrite) + len(dirty) + len(deltas)
        return keep, new, stats

    @staticmethod
    def _prune_posdels(all_files: list[dict], kept_data: list[dict]) -> list[dict]:
        """Posdel entries still needed after a commit that keeps exactly
        `kept_data` data files: targets narrowed to surviving basenames,
        entries with none left dropped (their rows were resolved into the
        rewrite or died with the dropped file)."""
        kept = {os.path.basename(f["path"]) for f in kept_data
                if f.get("kind") not in ("posdel", "eqdel")}
        out = []
        for p in _posdel_entries(all_files):
            t = [b for b in p["targets"] if b in kept]
            if t:
                out.append({**p, "targets": t})
        return out

    @staticmethod
    def _prune_eqdels(all_files: list[dict], kept_data: list[dict]) -> list[dict]:
        """Eqdel entries still needed after a commit keeping exactly
        `kept_data`: a rewrite of a targeted file went through the resolved
        read (the eqdel applied), so the surviving entry narrows to the
        still-live targets and drops entirely once none remain — compaction
        is how equality deletes get folded away."""
        kept = {os.path.basename(f["path"]) for f in kept_data
                if f.get("kind") not in ("posdel", "eqdel")}
        out = []
        for e in _eqdel_entries(all_files):
            t = [b for b in e["targets"] if b in kept]
            if t:
                out.append({**e, "targets": t})
        return out

    def _write_posdel_files(self, pd_df: DataFrame, targets: list[str]) -> list[dict]:
        """Write (_file,_pos) rows as positional-delete parquet sidecars
        under data/ (so expire/orphan GC manages them like data files).
        The delete set is O(matched boundary rows) — small by construction
        — so it coalesces to one file."""
        import pyarrow.parquet as pq

        tmp = os.path.join(self.root, f"data/.tmp-{uuid.uuid4().hex}")
        (pd_df.select(_PDFILE_COL, _PDPOS_COL).coalesce(1)
         .write.parquet(tmp, mode="overwrite"))
        entries: list[dict] = []
        for dirpath, _dirs, fnames in os.walk(tmp):
            for fn in fnames:
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(dirpath, fn)
                rows = pq.ParquetFile(src).metadata.num_rows
                if rows == 0:
                    continue
                rel = f"data/pd-{uuid.uuid4().hex}.parquet"
                os.replace(src, os.path.join(self.root, rel))
                entries.append({"path": rel, "rows": rows, "kind": "posdel",
                                "targets": list(targets), "bucket": None,
                                "sv": self.manifest().current_sv})
        shutil.rmtree(tmp, ignore_errors=True)
        return entries

    def posdel_file_count(self) -> int:
        return len(_posdel_entries(self.manifest().files))

    def compact_posdels(self, properties: dict | None = None) -> Manifest | None:
        """Consolidate outstanding positional-delete sidecars into ONE
        (Iceberg rewrite_position_deletes procedure analog). Every scan
        builds its anti-join probe from the UNION of all posdel files, so a
        long MOR delete/update history — thousands of tiny sidecars at
        10^10 scale — makes each reader pay file-listing + union overhead
        proportional to HISTORY length, not outstanding-delete count. The
        rewrite reads only sidecar bytes (no data file is touched): pairs
        are deduped and pairs aimed at files no longer live are dropped, so
        the merged sidecar is also the smallest correct one. Returns None
        when there is nothing to do (0 or 1 sidecars and no dead pairs).
        Commutes with concurrent appends under the optimistic rebase (the
        touched set is sidecars only); a concurrent rewrite of a targeted
        data file conflicts exactly as a fresh posdel write would."""
        base = self.manifest()
        pds = _posdel_entries(base.files)
        if len(pds) <= 1:
            return None
        live = sorted({os.path.basename(f["path"])
                       for f in _live_data(base.files)})
        targets = sorted(set().union(*(p["targets"] for p in pds))
                         & set(live))
        keep = [f for f in base.files if f.get("kind") != "posdel"]
        pd_df = (self._posdel_df(pds)
                 .filter(F.col(_PDFILE_COL).isin(targets))
                 .distinct())
        new = self._write_posdel_files(pd_df, targets)
        props = dict(properties or {})
        props.setdefault("operation", "compact_posdels")
        props["posdels_merged"] = len(pds)
        return self._commit(base, keep + new, props)

    def eqdel_file_count(self) -> int:
        return len(_eqdel_entries(self.manifest().files))

    def delete_keys(self, keys_df: DataFrame,
                    properties: dict | None = None) -> Manifest:
        """Equality DELETE by key value (Iceberg v2 equality-delete analog;
        the reference's only deletes are truncate-everything, README.md:58-61,
        and it has no key-delete at all). Writes ONE small sidecar parquet of
        the distinct deleted key tuples — ZERO data-file IO at delete time,
        regardless of table size: the 100 TB right-to-be-forgotten / purge
        primitive, where even a posdel delete must first SCAN to locate row
        positions but an eqdel is O(keys) outright.

        Semantics: the sidecar targets every data AND delta file live at
        commit time (an old delta upsert of the key dies with it); rows
        appended after the delete are outside the target set and so
        legitimately resurrect the key — exactly Iceberg's sequence-number
        rule, expressed over this format's explicit target lists. When the
        key is the table's bucket key, targets are pruned to the keys'
        buckets under every live bucket spec, so the read-side anti-join
        never touches unrelated buckets. Readers apply the delete centrally
        in _df_for_files (broadcast join, file-scoped), and compact() /
        rewrites fold it away via _prune_eqdels. Key columns are recorded by
        field id, so later renames/widens keep matching; dropping a key
        column with the delete outstanding is refused.

        NULL key values never match (SQL equality) and are dropped from the
        sidecar. Returns the committed manifest, or the current one when the
        table has no live files or the key set is empty (no-op)."""
        base = self.manifest()
        cur = base.schema_version
        by_name = {f["name"]: f for f in cur.fields}
        kcols = list(keys_df.columns)
        unknown = [c for c in kcols if c not in by_name]
        if not kcols or unknown:
            raise ValueError(
                f"{self.name}: delete_keys columns {unknown or kcols} not in "
                "the current schema")
        keys_df = (keys_df
                   .select(*[F.col(c).cast(by_name[c]["type"]).alias(c)
                             for c in kcols])
                   .dropna().dropDuplicates())
        live = _live_data(base.files)
        if base.bucket_key and kcols == [base.bucket_key]:
            nbs = {_file_nb(base, f) for f in live
                   if f.get("bucket") is not None}
            bmap = {
                nb: {r["b"] for r in keys_df.select(
                    bucket_expr(base.bucket_key, nb).alias("b"))
                    .distinct().collect()}
                for nb in sorted(nbs)
            }
            targets = sorted(
                os.path.basename(f["path"]) for f in live
                if f.get("bucket") is None
                or f["bucket"] in bmap.get(_file_nb(base, f), set()))
        else:
            targets = sorted(os.path.basename(f["path"]) for f in live)
        if not targets:
            return base
        entry = self._write_eqdel_file(
            keys_df, kcols,
            [by_name[c]["id"] for c in kcols],
            [by_name[c]["type"] for c in kcols],
            targets, base)
        if entry is None:  # empty key set after dropna/dedup
            return base
        props = dict(properties or {})
        props.setdefault("operation", "delete_keys")
        props["eqdel_keys"] = entry["rows"]
        props["eqdel_targets"] = len(targets)
        return self._commit(base, base.files + [entry], props)

    def _write_eqdel_file(self, kdf: DataFrame, kcols: list[str],
                          kids: list[int], ktypes: list[str],
                          targets: list[str], m: Manifest) -> dict | None:
        """Write the distinct deleted-key rows as one equality-delete parquet
        sidecar under data/ (expire/orphan GC manages it like a data file)."""
        import pyarrow.parquet as pq

        tmp = os.path.join(self.root, f"data/.tmp-{uuid.uuid4().hex}")
        kdf.coalesce(1).write.parquet(tmp, mode="overwrite")
        entry = None
        for dirpath, _dirs, fnames in os.walk(tmp):
            for fn in fnames:
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(dirpath, fn)
                rows = pq.ParquetFile(src).metadata.num_rows
                if rows == 0:
                    continue
                rel = f"data/{uuid.uuid4().hex}.parquet"
                os.replace(src, os.path.join(self.root, rel))
                entry = {"path": rel, "rows": rows, "kind": "eqdel",
                         "keys": kcols, "key_ids": kids, "ktypes": ktypes,
                         "targets": targets, "bucket": None,
                         "sv": m.current_sv}
        shutil.rmtree(tmp, ignore_errors=True)
        return entry

    def update_where(self, pred: dict, set_exprs: dict[str, str],
                     properties: dict | None = None,
                     mode: str = "cow") -> Manifest:
        """Predicate UPDATE ... SET planned file-by-file from manifest
        bounds (Iceberg copy-on-write UPDATE analog; the reference's only
        update path is whole-row MERGE WHEN MATCHED with merge_rule
        expressions, DatabricksOutputConnection.java:180-232): files whose
        bounds prove NO row matches keep their exact paths (zero IO — at
        100 TB a time-banded correction touches only the band's files);
        every other file is rewritten with `set_exprs` ({current column
        name: Spark SQL expression over the OLD row — the merge_rule
        analog, README.md:66-69}) applied to matching rows only. All SET
        expressions see the pre-update row (SQL UPDATE semantics: one
        simultaneous select, not sequential withColumn). NULL rows never
        match the range predicate. With outstanding MOR deltas, winners
        resolve first, then the update applies to the resolved state.

        `mode="mor"` (Iceberg v2 merge-on-read UPDATE analog = position
        delete + re-append): boundary files keep their exact paths; the
        matched LIVE rows (already-posdeleted rows stay dead) become one
        positional-delete sidecar plus newly-appended updated rows in the
        same atomic commit. Write cost O(matched rows), not O(boundary
        file bytes); a later compact() folds both back. Delta-dirty
        buckets still rewrite (winners must resolve first)."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown update mode {mode!r}")
        base = self.manifest()
        cur_fields = base.schema_version.fields
        unknown = set(set_exprs) - {c["name"] for c in cur_fields}
        if unknown:
            raise ValueError(f"update on unknown columns {sorted(unknown)}")
        if base.bucket_key in set_exprs:
            raise ValueError(
                f"cannot UPDATE bucket-key column {base.bucket_key!r}: rows "
                "would land in the wrong bucket (delete+insert instead)")
        deltas = [f for f in base.files if f.get("kind") == "delta"]
        clean, dirty = self._mor_split(base, base.files, deltas)
        keep, rewrite = [], []
        for f in clean:
            if _pred_classify(base, f, pred) == "none":
                keep.append(f)
            else:
                rewrite.append(f)
        cond = F.lit(True)
        for c, (lo, hi) in pred.items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
        hit = F.coalesce(cond, F.lit(False))
        skipped = len(keep)  # bounds-disjoint files (before mor keeps boundary files too)
        parts: list[DataFrame] = []
        new: list[dict] = []
        matched = None
        if rewrite and mode == "mor":
            # live boundary rows + (_file,_pos) lineage; apply_posdel=True
            # (the default) means already-deleted rows neither resurrect
            # nor re-enter the sidecar — the pairs are fresh by construction
            live = self._df_for_files(base, rewrite, with_lineage=True,
                                      with_row_ids=True)
            matched = live.filter(hit).persist()
            upd = []
            for fld in cur_fields:
                name = fld["name"]
                if name in set_exprs:  # one simultaneous select over OLD row
                    upd.append(F.expr(set_exprs[name]).cast(fld["type"])
                               .alias(name))
                else:
                    upd.append(F.col(name))
            new += self._write_posdel_files(
                matched.select(_PDFILE_COL, _PDPOS_COL),
                sorted(os.path.basename(f["path"]) for f in rewrite))
            # v3 MOR UPDATE carries the row id into the re-appended row:
            # the posdel kills the old position, the new row keeps identity;
            # _last_seq is NULL — the update inherits THIS commit's sequence
            reapp = self._write_data_files(
                matched.select(*upd, F.col(ROW_ID).alias(_RID_COL),
                               F.lit(None).cast("bigint").alias(_LSQ_COL)),
                base, extra_fields=[(_RID_COL, "bigint"),
                                    (_LSQ_COL, "bigint")])
            for e in reapp:
                e["ridc"] = True
            new += reapp
            keep += rewrite  # boundary files keep their exact paths
        elif rewrite:
            parts.append(self._df_for_files(base, rewrite, with_row_ids=True))
        if deltas:
            from ..operators.lww import lww_dedup  # lazy: avoids module cycle

            keys = [k for k in (base.properties.get("merge_keys") or "").split(",") if k]
            if not keys:
                raise ValueError(
                    f"{self.name}: delta files present but no merge_keys property")
            b = (self._df_for_files(base, dirty, with_row_ids=True)
                 .withColumn(_DSEQ_COL, F.lit(0).cast("bigint"))
                 .withColumn(_DOP_COL, F.lit("U")))
            d = self._df_for_files(base, deltas, extra_fields=_DELTA_FIELDS,
                                   with_row_ids=True)
            w = lww_dedup(b.unionByName(d), keys=keys,
                          order=[_DSEQ_COL], strategy="maxby")
            parts.append(w.filter(F.col(_DOP_COL) != "D")
                         .drop(_DSEQ_COL, _DOP_COL))
        if parts:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            out = []
            for fld in cur_fields:
                name = fld["name"]
                if name in set_exprs:
                    out.append(
                        F.when(hit, F.expr(set_exprs[name]).cast(fld["type"]))
                        .otherwise(F.col(name)).alias(name))
                else:
                    out.append(F.col(name))
            # updated rows keep their identity: SQL UPDATE never mints rows;
            # their _last_seq goes NULL (inherit this commit), kept rows carry
            rw = self._write_data_files(
                df.select(*out, F.col(ROW_ID).alias(_RID_COL),
                          F.when(hit, F.lit(None).cast("bigint"))
                          .otherwise(F.col(LAST_SEQ)).alias(_LSQ_COL)),
                base, extra_fields=[(_RID_COL, "bigint"),
                                    (_LSQ_COL, "bigint")])
            for e in rw:
                e["ridc"] = True
            new += rw
        props = dict(properties or {})
        props.setdefault("operation", "update_where")
        props["update_skipped_files"] = skipped
        if mode == "mor":
            props["update_rewritten_files"] = len(dirty) + len(deltas)
            props["update_posdel_files"] = sum(
                1 for e in new if e.get("kind") == "posdel")
            props["update_posdel_rows"] = sum(
                e["rows"] for e in new if e.get("kind") == "posdel")
        else:
            props["update_rewritten_files"] = len(rewrite) + len(dirty) + len(deltas)
        keep += self._prune_posdels(base.files, keep)
        keep += self._prune_eqdels(base.files, keep)
        m = self._commit(base, keep + new, props)
        if matched is not None:
            matched.unpersist()
        return m

    # ---------- metadata tables (Iceberg tbl.snapshots / tbl.files analog,
    # SURVEY B10: lineage/metadata probes as queryable DataFrames) ----------

    def snapshots(self) -> DataFrame:
        """One row per RETAINED snapshot (expire_snapshots bounds this):
        version, parent, operation, batch fence id, file/row counts, bucket
        spec, plus per-commit added/removed file+row deltas (Iceberg
        snapshot-summary analog: added-data-files / deleted-data-files).
        Deltas diff the manifest's live file set against its parent's; a
        commit whose parent is expired reports NULL deltas (unknowable
        without the parent), and the root commit counts everything as
        added — composable with Spark SQL for lineage/audit queries."""
        manifests = {}
        for fn in sorted(os.listdir(self._meta())):
            if fn.startswith("v") and fn.endswith(".json"):
                m = self.manifest(int(fn[1:-5]))
                manifests[m.version] = m
        rows = []
        for v in sorted(manifests):
            m = manifests[v]
            p = m.properties
            live = {f["path"]: f["rows"] for f in m.files}
            if m.parent is None:
                af, ar, rf, rr = len(live), sum(live.values()), 0, 0
            elif m.parent in manifests:
                prev = {f["path"]: f["rows"]
                        for f in manifests[m.parent].files}
                added = [r for pth, r in live.items() if pth not in prev]
                removed = [r for pth, r in prev.items() if pth not in live]
                af, ar = len(added), sum(added)
                rf, rr = len(removed), sum(removed)
            else:
                af = ar = rf = rr = None
            rows.append((m.version, m.parent, p.get("operation"),
                         p.get("batch_id"), p.get("committed_at_us"),
                         json.dumps(p, sort_keys=True, default=str),
                         len(m.files), sum(live.values()),
                         af, ar, rf, rr,
                         m.n_buckets, m.current_sv))
        schema = ("version long, parent long, operation string, "
                  "batch_id long, committed_at_us long, properties string, "
                  "n_files long, n_rows long, "
                  "added_files long, added_rows long, "
                  "removed_files long, removed_rows long, "
                  "n_buckets int, schema_version int")
        return self.spark.createDataFrame(rows, schema)

    def files(self, version: int | None = None) -> DataFrame:
        """One row per data file of a snapshot: path, bucket + the spec it
        was written under, rows, schema version, base/delta kind, recorded
        column bounds (JSON) — the scan-planning facts, queryable."""
        m = self.manifest(version)
        rows = [(f["path"], f["bucket"], _file_nb(m, f), f["rows"], f["sv"],
                 f.get("kind", "base"),
                 json.dumps(f["stats"], sort_keys=True) if f.get("stats") else None,
                 f.get("fr"), bool(f.get("ridc")), f.get("ls"))
                for f in m.files]
        schema = ("path string, bucket int, n_buckets int, rows long, "
                  "schema_version int, kind string, stats string, "
                  "first_row_id long, has_row_id_col boolean, "
                  "commit_seq long")
        return self.spark.createDataFrame(rows, schema)

    def refs(self) -> DataFrame:
        """One row per named ref (Iceberg tbl.refs analog): the main head,
        every branch head, and every tag pin — name, type, snapshot
        version. The audit view for WAP branches and training-run tags."""
        with open(self._meta("CURRENT")) as f:
            rows = [("main", "head", int(f.read().strip()))]
        for fn in sorted(os.listdir(self._meta())):
            if fn.startswith("BRANCH-") or fn.startswith("TAG-"):
                kind, name = fn.split("-", 1)
                with open(self._meta(fn)) as f:
                    rows.append((name, kind.lower(), int(f.read().strip())))
        return self.spark.createDataFrame(
            rows, "name string, type string, version long")

    def partitions(self, version: int | None = None) -> DataFrame:
        """Per-bucket summary (Iceberg tbl.partitions analog): files, rows,
        outstanding delta files — the skew/maintenance dashboard. A bucket
        with many small files wants compact(); many delta files want
        compact_deltas(); row counts far from uniform suggest rebucket()."""
        m = self.manifest(version)
        agg: dict[tuple[int, int | None], dict] = {}
        for f in _live_data(m.files):
            key = (_file_nb(m, f), f.get("bucket"))
            a = agg.setdefault(key, {"files": 0, "rows": 0, "delta_files": 0})
            a["files"] += 1
            a["rows"] += f["rows"]
            if f.get("kind") == "delta":
                a["delta_files"] += 1
        rows = [(nb, b, a["files"], a["rows"], a["delta_files"])
                for (nb, b), a in sorted(
                    agg.items(),
                    key=lambda kv: (kv[0][0],
                                    -1 if kv[0][1] is None else kv[0][1]))]
        return self.spark.createDataFrame(
            rows, "n_buckets int, bucket int, files long, rows long, "
                  "delta_files long")

    def delta_file_count(self) -> int:
        return sum(1 for f in self.manifest().files if f.get("kind") == "delta")

    def changelog(self, since_version: int, version: int | None = None) -> DataFrame:
        """Row-level change feed between two snapshots of a merge-managed
        table: every delta row added in the interval, with `__op` ('U'/'D')
        and `__dseq` (the commit that produced it). The MOR counterpart of
        added_rows() — downstream consumers apply it as an upsert/delete
        stream without rescanning the table. For COW commits in the
        interval (which fold rows into base files) use added_rows()."""
        old = {f["path"] for f in self.manifest(since_version).files}
        m = self.manifest(version)
        if any(f.get("kind") in ("posdel", "eqdel") and f["path"] not in old
               for f in m.files):
            # positional/equality deletes in the interval are row removals
            # the delta replay cannot see — refuse rather than emit an
            # incomplete feed
            raise ValueError(
                f"{self.name}: interval contains positional-delete or "
                "equality-delete files; use diff(since_version) for the "
                "row-level change feed")
        new_deltas = [f for f in m.files
                      if f.get("kind") == "delta" and f["path"] not in old]
        return self._df_for_files(m, new_deltas, extra_fields=_DELTA_FIELDS)

    def diff(self, from_version: int, keys: list[str],
             to_version: int | None = None,
             include_old: bool = False) -> DataFrame:
        """State diff between two snapshots as a changelog: one row per key
        whose resolved state changed, with `__op` in {'I','U','D'}. 'I'/'U'
        rows carry the new values, 'D' rows the last-seen old values.

        With `include_old=True` every value column is additionally emitted
        as `__old_<col>` holding the from_version state (NULL for 'I') —
        the retract side a downstream incremental consumer (e.g.
        streaming/aggmaint.py) needs to subtract a row's previous
        contribution before adding its new one.

        Unlike changelog() (which replays physical delta files and so only
        works for MOR intervals), diff() compares RESOLVED states via
        read(version=...), so it is strategy-agnostic — any mix of COW
        merges, overwrites, compactions, and evolution commits in the
        interval yields the same logical answer.

        Cost is bucket-pruned: a bucket whose manifest entries (data,
        delta, and the delete sidecars targeting its files) are IDENTICAL
        in both snapshots provably resolves to identical rows — files are
        immutable and never reused across commits — so only CHANGED
        buckets are read and full-outer-joined on the merge keys. After a
        small batch into a 10^10-row table that is O(touched buckets), not
        O(table), for every consumer built on diff (aggmaint, the near-dup
        index, export sync, CDC-out). Pruning disables itself — falling
        back to the full two-snapshot diff — whenever identical entries
        can stop implying identical rows: a schema change in the interval
        (projection differs), a bucket-count change, changed entries under
        an old bucket spec or unbucketed imports (no current-spec id to
        prune by), or a changed sidecar targeting an untracked file.
        """
        from pyspark.sql import functions as F

        old_m = self.manifest(from_version)
        new_m = self.manifest(to_version)
        changed = _diff_changed_buckets(old_m, new_m)
        # compare over the NEW schema: evolution renames/widens resolve
        # old rows forward by field id exactly as read() does
        val_cols = [f["name"] for f in new_m.schema_version.fields
                    if f["name"] not in keys]
        # the OLD snapshot's rows project FORWARD to the new schema by
        # field id (schema_as_of): a rename/widen/nested evolution in the
        # interval compares value-to-value instead of flagging every row,
        # and a metadata-only add-with-default shows no change (the
        # default applies to both sides)
        old = self.read(version=from_version, buckets=changed,
                        schema_as_of=new_m.version)
        new = self.read(version=to_version, buckets=changed)
        o = old.select(*keys, *val_cols, F.lit(True).alias("__in_o")).alias("o")
        n = new.select(*keys, *val_cols, F.lit(True).alias("__in_n")).alias("n")
        cond = [o[k].eqNullSafe(n[k]) for k in keys]
        j = o.join(n, cond, "full_outer")
        # presence flags, not key nullness, say which side(s) matched: the
        # merge matches keys null-safely, so a NULL key is a committed key
        in_old = o["__in_o"].isNotNull()
        in_new = n["__in_n"].isNotNull()
        same = None
        for c in val_cols:
            eq = o[c].eqNullSafe(n[c])
            same = eq if same is None else (same & eq)
        op = (
            F.when(in_old & ~in_new, F.lit("D"))
            .when(~in_old & in_new, F.lit("I"))
            .when(~(same if same is not None else F.lit(True)), F.lit("U"))
        )
        side = F.when(op == "D", F.lit("o")).otherwise(F.lit("n"))
        old_cols = [] if not include_old else [
            F.when(in_old, o[c]).alias(f"__old_{c}") for c in val_cols
        ]
        out = j.select(
            op.alias("__op"),
            *[F.when(side == "o", o[k]).otherwise(n[k]).alias(k) for k in keys],
            *[F.when(side == "o", o[c]).otherwise(n[c]).alias(c) for c in val_cols],
            *old_cols,
        )
        return out.filter(F.col("__op").isNotNull())

    def replace_files(self, remove_buckets, add_df,
                      properties: dict | None = None,
                      base: Manifest | None = None,
                      read_keys: dict | None = None) -> Manifest:
        """Copy-on-write primitive used by MERGE (plans/merge.py): swap out
        every file selected by `remove_buckets` (set under the current spec,
        {n_buckets: set} map across specs, None for all files, or an
        explicit LIST of file entries — the file-level-pruned merge path)
        for the freshly-written result of `add_df`, one atomic snapshot.
        The caller must have READ exactly the selected files into add_df —
        selection here mirrors read()'s pruning bit-for-bit (_split_files;
        for the list form, by exact path).

        If add_df carries a `_row_id` column (caller read the target with
        with_row_ids=True and threaded it through), the ids are materialized
        physically so carried rows keep their lineage across the rewrite;
        NULL ids (e.g. merge inserts) inherit fresh ones at read time.
        `add_df` may be a pyarrow Table instead (the driver-side merge);
        for a bucketed table it then carries each row's bucket id as
        `__bucket` (see _write_arrow_files).

        `base`: the manifest the caller PLANNED (read) against. Passing it
        makes the whole plan->commit window race-safe: a rival commit in
        between forces the optimistic rebase, whose read-set validation
        either proves the histories commute or raises CommitConflict —
        without it, only the instant between this call's own read and the
        manifest write is protected, and a mid-plan rival rewrite would be
        absorbed silently (lost update). `read_keys` (the staged merge-key
        values, _merge_key_prunable shape) lets the rebase prove a rival
        APPEND into a rewritten bucket key-disjoint from this merge — the
        multi-writer fan-in case, where hash bucketing makes every source
        touch every bucket."""
        if base is None:
            base = self.manifest()
        if isinstance(remove_buckets, list):
            paths = {f["path"] for f in remove_buckets}
            keep = [f for f in _live_data(base.files)
                    if f["path"] not in paths]
        else:
            _sel, keep = _split_files(base, _live_data(base.files),
                                      remove_buckets)
        extra = None
        if isinstance(add_df, DataFrame):
            if ROW_ID in add_df.columns:
                add_df, extra = _carry_lineage(add_df)
        elif ROW_ID in add_df.column_names:
            # pyarrow Table (the driver-side merge) carries both columns
            phys = {ROW_ID: _RID_COL, LAST_SEQ: _LSQ_COL}
            add_df = add_df.rename_columns(
                [phys.get(c, c) for c in add_df.column_names])
            extra = [(_RID_COL, "bigint"), (_LSQ_COL, "bigint")]
        new = self._write_data_files(add_df, base, extra_fields=extra)
        if extra:
            for e in new:
                e["ridc"] = True
        keep += self._prune_posdels(base.files, keep)
        keep += self._prune_eqdels(base.files, keep)
        return self._commit(base, keep + new, properties,
                            read_keys=read_keys)

    # ---------- schema evolution (metadata-only; SURVEY §2 M2) ----------

    def _evolved(self, base: Manifest, fields: list[dict], bump_ids: int,
                 properties: dict | None,
                 bucket_key: str | None = None) -> Manifest:
        sv = SchemaVersion(base.current_sv + 1, fields)
        props = dict(properties or {})
        props.setdefault("operation", "evolve-schema")
        return self._commit(
            base, base.files, props,
            schema_versions=base.schema_versions + [sv],
            current_sv=sv.sv, next_field_id=base.next_field_id + bump_ids,
            bucket_key=bucket_key,
        )

    def add_column(self, name: str, type_str: str, default=None,
                   properties: dict | None = None) -> Manifest:
        """Metadata-only column add. `default` is the Iceberg v3
        initial-default analog: rows written BEFORE the column existed read
        this literal instead of NULL — zero rewrite, so a new column lands
        on a 100 TB table with no backfill job. Files written after carry
        the physical value; skip machinery (_stats_keep/_pred_classify/
        _bloom_keep) treats pre-add files as constant-valued [d, d].

        A dotted `name` ("col.sub" / "col.sub.subsub") adds a field INSIDE
        a struct column (Iceberg nested-field evolution): metadata-only
        too — pre-add files read the initial-default at projection time
        (_project_field), post-add writes carry the physical child."""
        import itertools

        base = self.manifest()
        cur = base.schema_version
        dt = _type_of(type_str)  # validate
        if default is not None:
            try:  # driver-side verification, no job: literal must fit the type
                self.spark.createDataFrame(
                    [(default,)], T.StructType([T.StructField("d", dt)]))
            except Exception as e:
                raise SchemaEvolutionError(
                    f"default {default!r} does not fit {type_str}: {e}") from e
        counter = itertools.count(base.next_field_id)

        def new_field(leaf: str) -> dict:
            nf = {"id": next(counter), "name": leaf, "type": type_str,
                  "nullable": True}
            if isinstance(dt, T.StructType):
                nf["fields"] = _fields_with_ids(dt.fields, counter)
            if default is not None:
                nf["default"] = default
            return nf

        if "." in name:
            def edit(children: list[dict], leaf: str) -> None:
                if any(c["name"] == leaf for c in children):
                    raise SchemaEvolutionError(
                        f"field {name!r} already exists")
                children.append(new_field(leaf))

            fields = self._edit_nested(cur, name, edit)
        else:
            if any(f["name"] == name for f in cur.fields):
                raise SchemaEvolutionError(f"column {name!r} already exists")
            fields = [dict(f) for f in cur.fields] + [new_field(name)]
        return self._evolved(base, fields, next(counter) - base.next_field_id,
                             properties)

    @staticmethod
    def _edit_nested(cur: SchemaVersion, path: str, edit) -> list[dict]:
        """Copy-on-write edit of a nested struct field: walk `path`'s
        parent chain (every segment must be a struct column carrying
        nested field ids), apply `edit(children, leaf_name)` in place on
        the deep copy, then re-derive the ancestors' type strings so
        f["type"] stays in sync with the authoritative "fields" list."""
        import copy

        parts = path.split(".")
        fields = copy.deepcopy(cur.fields)
        node_list, chain = fields, []
        for seg in parts[:-1]:
            f = next((x for x in node_list if x["name"] == seg), None)
            if f is None:
                raise SchemaEvolutionError(f"no such column {seg!r} in {path!r}")
            if not f.get("fields"):
                raise SchemaEvolutionError(
                    f"{seg!r} is not an evolvable struct: nested field ids "
                    "required (structs inside arrays/maps, and struct "
                    "columns of pre-nested-id manifests, cannot evolve)")
            chain.append(f)
            node_list = f["fields"]
        edit(node_list, parts[-1])
        for f in reversed(chain):
            f["type"] = _dtype_of_field(f).simpleString()
        return fields

    def drop_column(self, name: str, properties: dict | None = None) -> Manifest:
        """Metadata-only column drop. Data files keep the physical column;
        reads simply stop projecting it (field-id projection). Re-adding a
        column with the same name later allocates a FRESH field id, so old
        values never resurrect — the classic spec-evolution trap Iceberg's
        id-based mapping exists to avoid. The bucket key and merge keys are
        structural and cannot be dropped."""
        base = self.manifest()
        cur = base.schema_version
        if "." in name:  # nested struct field (metadata-only drop)
            top = name.split(".")[0]
            refs = self._check_refs(base, top)
            if refs:
                raise SchemaEvolutionError(
                    f"cannot drop {name!r}: check(s) {refs} reference "
                    f"{top!r}; drop_check first")

            def edit(children: list[dict], leaf: str) -> None:
                if not any(c["name"] == leaf for c in children):
                    raise SchemaEvolutionError(f"no such field {name!r}")
                if len(children) == 1:
                    raise SchemaEvolutionError(
                        f"cannot drop the last field of {top!r}: drop the "
                        "struct column itself")
                children[:] = [c for c in children if c["name"] != leaf]

            return self._evolved(base, self._edit_nested(cur, name, edit),
                                 0, properties)
        if not any(f["name"] == name for f in cur.fields):
            raise SchemaEvolutionError(f"no such column {name!r}")
        if base.bucket_key == name:
            raise SchemaEvolutionError(f"cannot drop bucket key {name!r}")
        if name in (base.properties.get("merge_keys") or "").split(","):
            raise SchemaEvolutionError(f"cannot drop merge key {name!r}")
        if len(cur.fields) == 1:
            raise SchemaEvolutionError("cannot drop the last column")
        fid = next(f["id"] for f in cur.fields if f["name"] == name)
        if any(fid in e.get("key_ids", ()) for e in _eqdel_entries(base.files)):
            raise SchemaEvolutionError(
                f"cannot drop {name!r}: outstanding equality-delete files "
                "key on it; compact() to fold them first")
        refs = self._check_refs(base, name)
        if refs:
            raise SchemaEvolutionError(
                f"cannot drop {name!r}: referenced by check(s) {refs}; "
                "drop_check first")
        fields = [dict(f) for f in cur.fields if f["name"] != name]
        return self._evolved(base, fields, 0, properties)

    def rename_column(self, old: str, new: str, properties: dict | None = None) -> Manifest:
        base = self.manifest()
        cur = base.schema_version
        if "." in old:  # nested struct field (metadata-only, by field id)
            top = old.split(".")[0]
            refs = self._check_refs(base, top)
            if refs:
                raise SchemaEvolutionError(
                    f"cannot rename {old!r}: check(s) {refs} reference "
                    f"{top!r}; drop_check first")

            def edit(children: list[dict], leaf: str) -> None:
                f = next((c for c in children if c["name"] == leaf), None)
                if f is None:
                    raise SchemaEvolutionError(f"no such field {old!r}")
                if any(c["name"] == new for c in children):
                    raise SchemaEvolutionError(
                        f"field {new!r} already exists in {top!r}")
                f["name"] = new

            return self._evolved(base, self._edit_nested(cur, old, edit),
                                 0, properties)
        if not any(f["name"] == old for f in cur.fields):
            raise SchemaEvolutionError(f"no such column {old!r}")
        if any(f["name"] == new for f in cur.fields):
            raise SchemaEvolutionError(f"column {new!r} already exists")
        refs = self._check_refs(base, old)
        if refs:
            raise SchemaEvolutionError(
                f"cannot rename {old!r}: referenced by check(s) {refs}; "
                "drop_check first (a check is a raw SQL string — it cannot "
                "follow a rename by field id)")
        fields = [{**f, "name": new} if f["name"] == old else dict(f) for f in cur.fields]
        # renaming the bucket-key column must carry the key along, or every
        # later write fails routing rows by the retired name; same for the
        # merge_keys property, or MOR resolution dies on the retired name
        props = dict(properties or {})
        mk = [k for k in (base.properties.get("merge_keys") or "").split(",") if k]
        if old in mk:
            props["merge_keys"] = ",".join(new if k == old else k for k in mk)
        return self._evolved(base, fields, 0, props,
                             bucket_key=new if old == base.bucket_key else None)

    def _check_refs(self, m: Manifest, col: str) -> list[str]:
        """Names of CHECK constraints whose expression mentions `col` (word
        match on the raw SQL — conservative: a false positive only forces an
        explicit drop_check, never a wrong pass)."""
        import re

        pat = re.compile(rf"(?<![A-Za-z0-9_`]){re.escape(col)}(?![A-Za-z0-9_])")
        return sorted(n for n, e in _table_checks(m).items() if pat.search(e))

    def add_check(self, name: str, expr: str,
                  properties: dict | None = None) -> Manifest:
        """CHECK constraint (Delta ALTER TABLE ADD CONSTRAINT analog; the
        reference validates only config shape, never data —
        DatabricksOutputPlugin.java:135-148). `expr` is a SQL boolean over
        the current schema; NULL passes, a definite FALSE violates.

        Existing rows are validated NOW (one scan, like Delta — adding a
        constraint a 100 TB table already breaks must fail here, not on the
        next write). From then on every write funnels the check through the
        write job itself via the Observation API (_write_data_files): zero
        extra pass per batch, a violating batch is rejected whole with no
        snapshot commit. Caveats: add_files imports are not data-checked
        (metadata-only by contract — the check catches their rows at first
        rewrite); MOR delete markers skip payload checks."""
        base = self.manifest()
        checks = _table_checks(base)
        if name in checks:
            raise ValueError(f"{self.name}: check {name!r} already exists")
        # analysis-validates the expression against the current schema
        # (unknown column / syntax errors surface here, driver-side)
        probe = self.spark.createDataFrame([], base.schema())
        probe.filter(F.coalesce(F.expr(expr).cast("boolean"), F.lit(True)))
        bad = (self.read()
               .agg(_violation_count(expr).alias("n")).first()["n"]) or 0
        if bad:
            raise ConstraintViolation(
                f"{self.name}: cannot add check {name!r} ({expr}): "
                f"{bad} existing row(s) violate it")
        props = dict(properties or {})
        props["checks"] = json.dumps({**checks, name: expr}, sort_keys=True)
        props.setdefault("operation", "add_check")
        # next_field_id passed (same value) to flag a metadata change:
        # a check commit must never silently rebase over a concurrent
        # write — that write was validated against the OLD constraint set
        return self._commit(base, base.files, props,
                            next_field_id=base.next_field_id)

    def drop_check(self, name: str, properties: dict | None = None) -> Manifest:
        base = self.manifest()
        checks = _table_checks(base)
        if name not in checks:
            raise ValueError(f"{self.name}: no such check {name!r}")
        del checks[name]
        props = dict(properties or {})
        props["checks"] = json.dumps(checks, sort_keys=True)
        props.setdefault("operation", "drop_check")
        return self._commit(base, base.files, props,
                            next_field_id=base.next_field_id)

    def checks(self) -> dict[str, str]:
        return _table_checks(self.manifest())

    def rebucket(self, n_buckets: int, properties: dict | None = None) -> Manifest:
        """Bucket-spec evolution (Iceberg partition-spec evolution analog):
        change the table's bucket count with a METADATA-ONLY commit — no
        data file is touched. Existing file entries are stamped with the
        spec they were written under ("nb"); new writes use the new spec.
        Readers prune per-file by its own spec (_split_files) and MOR
        resolution treats cross-spec base files as dirty; compact() then
        migrates old-spec files incrementally. This is the only viable way
        to grow bucket count on a 100 TB table: a 16-bucket layout chosen at
        1 TB throttles merge parallelism at 100 TB, and an eager rewrite of
        the whole table to fix it would be a multi-hour outage."""
        base = self.manifest()
        if not base.bucket_key:
            raise ValueError(f"{self.name}: rebucket requires a bucketed table")
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        if n_buckets == base.n_buckets:
            return base
        files = [{**f, "nb": _file_nb(base, f)}
                 if f.get("kind") not in ("posdel", "eqdel")
                 else f for f in base.files]
        props = dict(properties or {})
        props.setdefault("operation", "rebucket")
        return self._commit(base, files, props, n_buckets=n_buckets)

    # ---------- maintenance (SURVEY B12: cleanup DDL / expire snapshots) ----------

    def rollback(self, version: int, properties: dict | None = None) -> Manifest:
        """Roll the table back to an earlier snapshot — as a NEW commit that
        re-points at that snapshot's file list, schema state, and bucket
        spec (Iceberg rollback_to_snapshot analog). Metadata-only and
        history-preserving: the bad interval stays inspectable via time
        travel until expire_snapshots reclaims it, and the operation is
        itself undoable (rollback of a rollback). The CDC story: a bad
        batch landed -> rollback -> clear its fence entry -> re-tail from
        the previous checkpoint; data files are never touched.
        """
        base = self.manifest()
        target = self.manifest(version)
        props = dict(properties or {})
        props.setdefault("operation", "rollback")
        props.setdefault("rollback_of", str(base.version))
        props.setdefault("rollback_to", str(version))
        # re-point the checkpoint-recovery view at the target snapshot:
        # without this, crash reconciliation would read the BAD batch's
        # fence stamp out of the inherited properties and re-fence it
        for k in ("batch_id", "source_id", "lsn_from", "lsn_to", "lineage",
                  "committed_at"):
            props[k] = target.properties.get(k)
        return self._commit(
            base,
            list(target.files),
            props,
            schema_versions=target.schema_versions,
            current_sv=target.current_sv,
            next_field_id=base.next_field_id,  # never reuse field ids
            n_buckets=target.n_buckets,
        )

    # ---------- branches / write-audit-publish (Iceberg branch refs +
    # WAP analog; no reference counterpart — its loads land straight in the
    # target with no audit gate) ----------

    def _publish_ref(self, ref: str, version: int) -> None:
        tmp = self._meta(f".{ref}.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._meta(ref))  # atomic head swap

    def create_branch(self, name: str, from_version: int | None = None) -> "LakeTable":
        """Fork a named branch at `from_version` (default: this handle's
        head) and return a handle whose commits advance ONLY the branch.
        The write-audit-publish flow: replay suspect batches into the
        branch, validate its snapshot, then publish_branch() to make main
        adopt it atomically — or drop_branch() to discard. Main readers
        never see unvalidated data; data files are shared (commits are
        metadata; nothing is copied)."""
        if not name or any(c in name for c in "/\\. "):
            raise ValueError(f"bad branch name {name!r}")
        ref = f"BRANCH-{name}"
        v = self.current_version() if from_version is None else from_version
        self.manifest(v)  # must exist
        try:
            with open(self._meta(ref), "x") as f:  # O_EXCL: no silent re-fork
                f.write(str(v))
        except FileExistsError as e:
            raise ValueError(f"branch {name!r} already exists") from e
        return LakeTable(self.spark, self.root, f"{self.name}@{name}", ref=ref)

    def branch(self, name: str) -> "LakeTable":
        ref = f"BRANCH-{name}"
        if not os.path.exists(self._meta(ref)):
            raise ValueError(f"no such branch {name!r}")
        return LakeTable(self.spark, self.root, f"{self.name}@{name}", ref=ref)

    def list_branches(self) -> list[str]:
        return sorted(fn[len("BRANCH-"):] for fn in os.listdir(self._meta())
                      if fn.startswith("BRANCH-"))

    def drop_branch(self, name: str) -> None:
        """Discard a branch head. Its snapshots stay time-travelable until
        expire_snapshots; its data files are reclaimed by
        remove_orphan_files once no retained snapshot references them."""
        ref = f"BRANCH-{name}"
        if not os.path.exists(self._meta(ref)):
            raise ValueError(f"no such branch {name!r}")
        os.unlink(self._meta(ref))

    def _is_ancestor(self, anc: int, desc: int) -> bool:
        v: int | None = desc
        while v is not None and v >= anc:
            if v == anc:
                return True
            v = self.manifest(v).parent
        return False

    def publish_branch(self, name: str) -> Manifest:
        """Fast-forward this handle's head to the branch head — the PUBLISH
        step of write-audit-publish, a single atomic pointer swap (no data
        or metadata rewrite; at 100 TB publish cost is O(1)). Requires the
        current head to be an ancestor of the branch head: if main advanced
        since the fork, fast-forward would silently drop those commits, so
        the caller must re-fork and re-apply (raise CommitConflict)."""
        ref = f"BRANCH-{name}"
        with open(self._meta(ref)) as f:
            head = int(f.read().strip())
        cur = self.current_version()
        if head == cur:
            return self.manifest(cur)
        if not self._is_ancestor(cur, head):
            raise CommitConflict(
                f"{self.name}: cannot fast-forward {self.ref}@v{cur} to "
                f"branch {name!r}@v{head} — heads diverged; re-fork and re-apply"
            )
        self._publish_ref(self.ref, head)
        return self.manifest(head)

    # ---------- tags (Iceberg tag refs: immutable named snapshots) ----------

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin `version` (default: this head's current snapshot) under an
        immutable name (Iceberg tag-ref analog; no reference counterpart —
        its loads are fire-and-forget). A tag protects exactly that
        snapshot from expire_snapshots and its files from orphan GC,
        giving a training run a reproducible `table@tag` handle at zero
        storage cost (a pointer, nothing rewritten). Tags are immutable:
        re-tagging an existing name raises; drop_tag releases the pin."""
        v = self.current_version() if version is None else version
        self.manifest(v)  # validate the snapshot exists
        try:
            with open(self._meta(f"TAG-{name}"), "x") as f:  # O_EXCL: immutable
                f.write(str(v))
        except FileExistsError:
            raise ValueError(f"{self.name}: tag {name!r} already exists") from None
        return v

    def tag_version(self, name: str) -> int:
        try:
            with open(self._meta(f"TAG-{name}")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            raise ValueError(f"{self.name}: no tag {name!r}") from None

    def tags(self) -> dict[str, int]:
        out = {}
        for fn in os.listdir(self._meta()):
            if fn.startswith("TAG-"):
                with open(self._meta(fn)) as f:
                    out[fn[4:]] = int(f.read().strip())
        return out

    def drop_tag(self, name: str) -> None:
        try:
            os.unlink(self._meta(f"TAG-{name}"))
        except FileNotFoundError:
            raise ValueError(f"{self.name}: no tag {name!r}") from None

    def read_tag(self, name: str, **kw) -> DataFrame:
        return self.read(version=self.tag_version(name), **kw)

    def maintain(self, max_files_per_bucket: int = 8,
                 max_delta_files: int = 8,
                 max_posdel_files: int = 8,
                 expire_keep_last: int | None = None,
                 expire_older_than_us: int | None = None,
                 cluster_by: list[str] | None = None,
                 rows_per_file: int | None = None,
                 target_file_bytes: int | None = None) -> dict:
        """One-call policy-driven maintenance pass (the OPTIMIZE /
        table-maintenance job a 100 TB CDC sink schedules between batches;
        Iceberg ships the same set as separate procedures). Reads the
        manifest dashboard and fires only what thresholds justify, in the
        order that avoids duplicate IO:

          1. compact_deltas — when the MOR delta backlog exceeds
             `max_delta_files` (read-side winner resolution cost grows with
             the backlog, and fold-first means the bin-pack below sees the
             resolved rows instead of resolving them again);
          2. compact — buckets holding more than `max_files_per_bucket`
             files bin-pack (optionally clustered by `cluster_by`;
             `target_file_bytes` switches victim selection to file sizes);
          3. compact_posdels — when more than `max_posdel_files` sidecars
             remain outstanding (a compact may already have folded them);
          4. analyze(persist=True) — when `ndv_columns` is set and live
             data files still lack sketches (pre-property files the
             compaction above did not touch): the statistics index stays
             complete without a dedicated job, cost O(missing files);
          5. expire_snapshots + remove_orphan_files — when
             `expire_keep_last` is given (metadata/history retention;
             `expire_older_than_us` adds the wall-clock age bound).

        Returns {action: outcome} for the actions taken — the lineage
        record a scheduler logs. Each action is its own atomic snapshot;
        a crash between actions leaves a consistent table and the next
        maintain() resumes where thresholds still fire."""
        report: dict = {}
        if self.delta_file_count() > max_delta_files:
            m = self.compact_deltas()
            if m is not None:
                report["compact_deltas"] = {"version": m.version}
        m = self.compact(min_files_per_bucket=max_files_per_bucket + 1,
                         cluster_by=cluster_by, rows_per_file=rows_per_file,
                         target_file_bytes=target_file_bytes)
        if m is not None:
            report["compact"] = {"version": m.version}
        if self.posdel_file_count() > max_posdel_files:
            m = self.compact_posdels()
            if m is not None:
                report["compact_posdels"] = {
                    "version": m.version,
                    "merged": m.properties["posdels_merged"]}
        mm = self.manifest()
        ndv_cols = [c for c in
                    (mm.properties.get("ndv_columns") or "").split(",") if c]
        if ndv_cols:
            # per-column sketch gaps are resolved by field id inside
            # analyze(); with nothing missing this is a pure metadata pass
            got = self.analyze(persist=True)
            scanned = max(v["files_scanned"] for v in got.values())
            skipped = sorted(c for c, v in got.items()
                             if v.get("unsupported"))
            if scanned or skipped:
                report["analyze"] = {
                    "files_scanned": scanned,
                    "ndv": {c: v["ndv"] for c, v in got.items()
                            if not v.get("unsupported")}}
                if skipped:
                    # legacy/unsketchable columns: noted, never fatal
                    report["analyze"]["unsupported"] = skipped
        if expire_keep_last is not None:
            dropped = self.expire_snapshots(keep_last=expire_keep_last,
                                            older_than_us=expire_older_than_us)
            removed = self.remove_orphan_files()
            report["expire"] = {"snapshots_dropped": len(dropped),
                                "orphans_removed": len(removed)}
            # change-data-feed sidecars (streaming/cdf.py) follow snapshot
            # retention: a cdf dir for an expired version feeds no one
            from ..streaming.cdf import prune_change_feed

            pruned = prune_change_feed(self)
            if pruned:
                report["expire"]["cdf_pruned"] = len(pruned)
        return report

    def expire_snapshots(self, keep_last: int = 1,
                         older_than_us: int | None = None) -> list[int]:
        """Drop manifests older than the newest `keep_last` snapshots (the
        analog of Iceberg's expire_snapshots procedure; the reference's
        staging cleanup is DatabricksOutputPlugin.java:176-183). Time travel
        to expired versions becomes unavailable; data files they referenced
        are reclaimed by remove_orphan_files(). At 10^10 scale this bounds
        metadata growth: one manifest per batch would otherwise accumulate
        forever.

        `older_than_us` (epoch microseconds) adds Iceberg's age retention:
        only snapshots COMMITTED before that instant expire — `keep_last`
        still always retains the newest N regardless of age, exactly the
        expire_snapshots(older_than, retain_last) contract. Wall-clock
        policies ('keep 7 days') need this form: batch counts drift with
        traffic, age does not."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        current = self.current_version()
        cutoff = current - keep_last + 1
        # never expire a snapshot some live ref still points at (or could
        # fast-forward through): clamp to the oldest branch head. Tags pin
        # exactly THEIR snapshot (no clamp — history between a tag and the
        # head still expires, the Iceberg retention semantics).
        protected: set[int] = set()
        for fn in os.listdir(self._meta()):
            if fn.startswith("BRANCH-"):
                with open(self._meta(fn)) as f:
                    cutoff = min(cutoff, int(f.read().strip()))
            elif fn.startswith("TAG-"):
                with open(self._meta(fn)) as f:
                    protected.add(int(f.read().strip()))
        expired = []
        for fn in sorted(os.listdir(self._meta())):
            if fn.startswith("v") and fn.endswith(".json"):
                v = int(fn[1:-5])
                if v >= cutoff or v in protected:
                    continue
                if older_than_us is not None:
                    at = self.manifest(v).properties.get("committed_at_us")
                    # pre-stamp snapshots (no committed_at_us) are treated
                    # as infinitely old, matching version_as_of
                    if at is not None and at >= older_than_us:
                        continue
                os.unlink(self._meta(fn))
                self._manifest_cache.pop(v, None)  # expired: reads must fail
                expired.append(v)
        return expired

    def update_properties(self, props: dict) -> Manifest:
        """Metadata-only commit that merges `props` into the table
        properties (snapshot properties are inherited, so this is the
        watermark/flag-setting primitive — e.g. aggmaint's consumed-version
        stamp when an interval carried no changes)."""
        base = self.manifest()
        p = dict(props)
        p.setdefault("operation", "set-properties")
        return self._commit(base, base.files, p)

    def set_write_compression(self, codec: str,
                              properties: dict | None = None) -> Manifest:
        """Parquet codec for FUTURE data-file writes (metadata-only commit;
        Iceberg `write.parquet.compression-codec` analog — the reference
        delegates storage entirely and exposes no layout knob at all).
        Existing files keep their codec: parquet is self-describing, so
        every reader path — scans, MOR resolution, export hardlinks — is
        codec-agnostic, and compact() migrates old files lazily (the
        rebucket/bloom pattern). zstd typically ~halves bytes at rest vs
        snappy at near-equal scan speed; at 100 TB that is half the
        storage and scan IO."""
        if codec not in _COMPRESSION_CODECS:
            raise ValueError(
                f"unknown codec {codec!r}; one of {sorted(_COMPRESSION_CODECS)}")
        base = self.manifest()
        props = dict(properties or {})
        props["write_compression"] = codec
        props.setdefault("operation", "set-write-compression")
        return self._commit(base, base.files, props)

    def set_bloom_columns(self, cols: list[str],
                          properties: dict | None = None,
                          bits: int | None = None) -> Manifest:
        """Enable per-file bloom harvesting for `cols` on FUTURE writes
        (metadata-only commit). Existing files keep no bloom (= never
        skipped, always correct); compact() rewrites them and picks the
        index up lazily — the same migration pattern as rebucket().
        `bits` overrides the per-file filter size (table property
        bloom_bits; probe side is self-describing, so resizing later only
        affects new files) — size ~10x the expected distinct values (or
        distinct array ELEMENTS) per file."""
        base = self.manifest()
        names = {f["name"] for f in base.schema_version.fields}
        unknown = set(cols) - names
        if unknown:
            raise ValueError(f"bloom_columns not in schema: {sorted(unknown)}")
        props = dict(properties or {})
        props["bloom_columns"] = ",".join(cols)
        if bits is not None:
            if bits % 8 or bits < 64:
                raise ValueError(f"bloom bits must be a multiple of 8 >= 64, got {bits}")
            props["bloom_bits"] = str(bits)
        props.setdefault("operation", "set-bloom-columns")
        return self._commit(base, base.files, props)

    @staticmethod
    def _kmv_sketchable(type_str: str) -> bool:
        """Types the KMV harvest can hash (sketch.build via
        bloom._normalize: bool/int/float/str/bytes, arrays thereof —
        arrays sketch their ELEMENTS). Everything else (map, struct,
        timestamp, date, decimal) raises TypeError at harvest time, so it
        is rejected up front instead of turning maintain() into a
        guaranteed-failing job for a config the API accepted."""
        t = type_str.strip().lower()
        while t.startswith("array<") and t.endswith(">"):
            t = t[6:-1].strip()
        return t in {"boolean", "tinyint", "byte", "smallint", "short",
                     "int", "integer", "bigint", "long", "float", "double",
                     "string", "varchar", "binary"}

    def set_ndv_columns(self, cols: list[str],
                        properties: dict | None = None,
                        k: int | None = None) -> Manifest:
        """Enable per-file KMV distinct-count sketches for `cols` on FUTURE
        writes (metadata-only commit; sources/sketch.py — the Iceberg
        Puffin/ANALYZE analog). Existing files carry no sketch until
        analyze(persist=True) or compact() harvests one — the same lazy
        migration as set_bloom_columns. `k` sizes the sketch (table
        property ndv_k, default 1024): exact answers below k distinct,
        ~1/sqrt(k) relative error above."""
        base = self.manifest()
        by_name = {f["name"]: f for f in base.schema_version.fields}
        unknown = set(cols) - set(by_name)
        if unknown:
            raise ValueError(f"ndv_columns not in schema: {sorted(unknown)}")
        bad = [c for c in cols if not self._kmv_sketchable(by_name[c]["type"])]
        if bad:
            raise ValueError(
                f"ndv_columns of unsketchable type: "
                f"{[(c, by_name[c]['type']) for c in bad]} — KMV sketches "
                "support bool/int/float/string/binary and arrays of those")
        props = dict(properties or {})
        props["ndv_columns"] = ",".join(cols)
        if k is not None:
            if k < 16:
                raise ValueError(f"ndv k must be >= 16, got {k}")
            props["ndv_k"] = str(k)
        props.setdefault("operation", "set-ndv-columns")
        return self._commit(base, base.files, props)

    def analyze(self, cols: list[str] | None = None,
                version: int | None = None,
                persist: bool = False) -> dict[str, dict]:
        """Table-level COUNT(DISTINCT col) from per-file KMV sketches —
        the metadata answer to the statistics question every CBO asks
        (join-side choice, skew diagnosis, dictionary decisions). At
        100 TB the full-scan alternative is exactly the anti-pattern
        agg_push exists to avoid for COUNT/MIN/MAX; NDV needs its own
        machinery because distinct counts don't fold from bounds.

        Semantics: NDV over every value in LIVE row-holding files (data +
        MOR deltas). Rows later deleted or superseded still count until
        compaction folds them away — the same upper-bound contract
        Iceberg's Puffin sketches have, exact again after maintenance.
        NULLs never count (COUNT(DISTINCT) ignores them); ARRAY columns
        count distinct ELEMENTS (the bloom contract — e.g. vocabulary
        size of a token corpus).

        Cost: zero data IO for sketch-carrying files; files missing the
        sketch (written before set_ndv_columns) are harvested by ONE
        distributed job reading only the probed columns of those files —
        O(missing files), and persist=True commits the harvested sketches
        back as entry updates so the NEXT analyze is pure metadata.
        Resolution is by field id: sketches survive renames and widens.

        Returns {col: {"ndv": int, "exact": bool, "files_from_sketch": n,
        "files_scanned": n}}.
        """
        m = self.manifest(version)
        if cols is None:
            cols = [c for c in
                    (m.properties.get("ndv_columns") or "").split(",") if c]
        if not cols:
            raise ValueError(
                "no columns to analyze: pass cols= or set_ndv_columns first")
        if persist and version is not None:
            raise ValueError("persist=True analyzes the current version")
        k = int(m.properties.get("ndv_k") or 0) or sketch.KMV_K
        cur_by_name = {c["name"]: c for c in m.schema_version.fields}
        unknown = set(cols) - set(cur_by_name)
        if unknown:
            raise ValueError(f"analyze of unknown columns: {sorted(unknown)}")
        svs = {s.sv: s for s in m.schema_versions}
        # legacy escape hatch: ndv_columns set before type validation
        # existed (or a widen to an unsupported type) must not turn every
        # later analyze/maintain into a guaranteed crash — report the
        # column as unsupported instead and sketch the rest
        unsupported = [c for c in cols
                       if not self._kmv_sketchable(cur_by_name[c]["type"])]
        cols = [c for c in cols if c not in unsupported]
        blobs: dict[str, list[str]] = {c: [] for c in cols}
        from_sketch: dict[str, int] = {c: 0 for c in cols}
        need: dict[str, dict[str, str]] = {}  # rel path -> {col: phys name}
        for f in _live_data(m.files):
            phys_by_id = svs[f["sv"]].by_id()
            for c in cols:
                cf = cur_by_name[c]
                pf = phys_by_id.get(cf["id"])
                if pf is None:
                    # column added after this file: every row reads the
                    # initial default — one distinct value (or none)
                    d = cf.get("default")
                    if d is not None and f.get("rows"):
                        blobs[c].append(sketch.build([d], k))
                    continue
                blob = f.get("kmv", {}).get(pf["name"])
                if blob is not None:
                    blobs[c].append(blob)
                    from_sketch[c] += 1
                else:
                    need.setdefault(f["path"], {})[c] = pf["name"]
        harvested: dict[str, dict[str, str]] = {}
        if need:
            harvested = self._harvest_kmv(need, k)
            for rel, phys_map in need.items():
                got = harvested.get(rel, {})
                for c, phys in phys_map.items():
                    blob = got.get(phys)
                    if blob is None:
                        raise ValueError(
                            f"column {c!r} has a type KMV cannot sketch")
                    blobs[c].append(blob)
        if persist and harvested:
            updated = []
            changed = 0
            for f in m.files:
                got = harvested.get(f["path"])
                if got:
                    nf = dict(f)
                    nf["kmv"] = {**f.get("kmv", {}), **got}
                    updated.append(nf)
                    changed += 1
                else:
                    updated.append(f)
            self._commit(m, updated, {"operation": "analyze",
                                      "analyzed_files": changed})
        out: dict[str, dict] = {}
        for c in cols:
            if not blobs[c]:
                out[c] = {"ndv": 0, "exact": True,
                          "files_from_sketch": 0, "files_scanned": len(need)}
                continue
            est, ex = sketch.estimate(sketch.merge(blobs[c], k))
            out[c] = {"ndv": int(round(est)), "exact": ex,
                      "files_from_sketch": from_sketch[c],
                      "files_scanned": len(need)}
        for c in unsupported:
            out[c] = {"ndv": None, "exact": False, "unsupported": True,
                      "files_from_sketch": 0, "files_scanned": 0}
        return out

    def _harvest_kmv(self, need: dict[str, dict[str, str]],
                     k: int) -> dict[str, dict[str, str]]:
        """Distributed sketch harvest for files that predate ndv_columns:
        one Spark job, each task opens only ITS files and reads only the
        probed columns (pyarrow column IO on the executor) — never a
        whole-table scan. Returns {rel_path: {phys_col: blob}}."""
        rows = [(os.path.join(self.root, rel), rel,
                 json.dumps(sorted(set(phys.values()))))
                for rel, phys in sorted(need.items())]
        sdf = self.spark.createDataFrame(rows, "abs string, rel string, cols string")
        k_ = k

        def gen(pdfs):
            import pandas as pd
            import pyarrow.parquet as pq
            for pdf in pdfs:
                out = []
                for r in pdf.itertuples():
                    pf = pq.ParquetFile(r.abs)
                    got = {}
                    for c in json.loads(r.cols):
                        try:
                            got[c] = sketch.build(
                                bloom.distinct_column_values(pf, c), k_)
                        except TypeError:
                            pass  # unsupported type: caller raises per-col
                    out.append({"rel": r.rel, "kmv": json.dumps(got)})
                yield pd.DataFrame(out, columns=["rel", "kmv"])

        got = (sdf.repartition(max(1, min(len(rows), 64)))
               .mapInPandas(gen, "rel string, kmv string").collect())
        return {r["rel"]: json.loads(r["kmv"]) for r in got}

    def set_sort_order(self, cols: list[str],
                       rows_per_file: int | None = None,
                       properties: dict | None = None) -> Manifest:
        """Table write sort order (Iceberg write sort-order /
        `write.sort.order` analog; metadata-only commit). Once set, EVERY
        future data write — append, COW merge bucket rewrite, MOR delta,
        predicate-DML rewrite, compaction — sorts rows within each bucket
        by `cols` (optionally splitting files at `rows_per_file`), so the
        footer-harvested min/max bounds keep pruning WITHIN buckets through
        normal CDC churn. Without it a merged bucket loses its clustering
        and range scans degrade until the next explicit
        compact(cluster_by=...) — at 100 TB that window is most of the
        time. Existing files are untouched (compact() migrates them); the
        order is advisory — a column later renamed or dropped simply
        leaves the effective order, never breaking writes. `cols=[]`
        clears the order. Z-order clustering stays an explicit compact()
        call (its Morton key needs a bounds pass per write)."""
        base = self.manifest()
        names = {f["name"] for f in base.schema_version.fields}
        unknown = set(cols) - names
        if unknown:
            raise ValueError(f"sort_order columns not in schema: {sorted(unknown)}")
        by_name = {f["name"]: f for f in base.schema_version.fields}
        unsortable = [c for c in cols
                      if by_name[c]["type"].startswith("map<")]
        if unsortable:
            raise ValueError(f"sort_order columns not orderable: {unsortable}")
        props = {**(properties or {}),
                 **sort_order_properties(cols, rows_per_file)}
        props.setdefault("operation", "set-sort-order")
        return self._commit(base, base.files, props)

    def compact(self, min_files_per_bucket: int = 2,
                properties: dict | None = None,
                cluster_by: list[str] | None = None,
                rows_per_file: int | None = None,
                cluster_mode: str = "sort",
                target_file_bytes: int | None = None) -> Manifest | None:
        """Bin-pack small files: rewrite every bucket holding >=
        min_files_per_bucket files into a single file set (Iceberg
        rewrite_data_files analog). The small-file problem is the classic
        failure mode of per-batch appends at 10^10 scale — reads degrade
        linearly with file count. One atomic snapshot; returns None if no
        bucket qualifies. Files from old schema versions are rewritten to
        the current schema (read() projects by field id).

        `cluster_by` (+ optional `rows_per_file`) additionally sorts each
        rewritten bucket by the given columns and splits it into
        consecutive files, turning the per-file min/max bounds into a
        range index WITHIN the bucket (OPTIMIZE ... sort analog) — every
        bucket with data is rewritten in that mode.

        `cluster_mode="zorder"` sorts by a Morton key over the (numeric)
        cluster columns instead of lexicographically: every file then
        covers a small hypercube of the value space and stats_filter
        prunes on EVERY clustered dimension, not just the leading one
        (OPTIMIZE ... ZORDER BY analog; functions/zorder.py). Column
        bounds for quantization come from one cheap agg over the rows
        being rewritten.

        `target_file_bytes` switches victim selection from file COUNTS to
        file SIZES (Iceberg rewrite_data_files target-size / Delta
        OPTIMIZE analog; defaultable via the `target_file_bytes` table
        property): a bucket qualifies when it holds >= 2 undersized files
        (< 3/4 target — packing them wins) or any oversized file
        (> 9/5 target — splitting it wins); a bucket already at target is
        left byte-identical. Unless `rows_per_file` is given it is derived
        from the victims' observed bytes/row, so rewritten files land near
        the target regardless of payload shape. At 100 TB the file-count
        heuristic misfires both ways — 8 near-target files are fine, two
        500 MB halves are not — bytes are what the scan pays for."""
        base = self.manifest()
        by_pair: dict = {}
        for f in _live_data(base.files):
            by_pair.setdefault((_file_nb(base, f), f["bucket"]), []).append(f)
        if target_file_bytes is None:
            target_file_bytes = int(
                base.properties.get("target_file_bytes") or 0) or None
        if target_file_bytes is not None:
            small_cut = target_file_bytes * 3 // 4
            big_cut = target_file_bytes * 9 // 5
            victims = {
                p for p, fs in by_pair.items()
                if sum(1 for f in fs if f.get("bytes") is None
                       or f["bytes"] < small_cut) >= 2
                or any((f.get("bytes") or 0) > big_cut for f in fs)}
        else:
            victims = {p for p, fs in by_pair.items()
                       if len(fs) >= min_files_per_bucket}
        # files still on an OLD bucket spec (pre-rebucket) are always
        # victims: compaction rewrites them under the current spec, so the
        # table converges back to a single spec and full pruning/MOR fast
        # paths — lazy migration, never a stop-the-world table rewrite
        victims |= {p for p in by_pair if p[0] != base.n_buckets}
        if cluster_by:
            victims = set(by_pair)  # clustering rewrites every populated bucket
        if not victims:
            return None
        if target_file_bytes is not None and rows_per_file is None:
            vf = [f for p in victims for f in by_pair.get(p, ())
                  if f.get("bytes") and f.get("rows")]
            if vf:
                bpr = sum(f["bytes"] for f in vf) / sum(f["rows"] for f in vf)
                rows_per_file = max(1, int(target_file_bytes / bpr))
        vmap: dict[int, set] = {_file_nb(base, f): set() for f in _live_data(base.files)}
        for nb, b in victims:
            vmap[nb].add(b)
        # carry row lineage: every rewritten row keeps its _row_id
        # (materialized physically in the compacted files)
        df = self.read(buckets=vmap, with_row_ids=True)
        props = dict(properties or {})
        props.setdefault("operation", "compact")
        sort_by: list | None = cluster_by
        if cluster_by and cluster_mode == "zorder":
            from ..functions.zorder import zorder_key

            row = df.agg(*[f(c).alias(f"{p}_{c}") for c in cluster_by
                           for p, f in (("mn", F.min), ("mx", F.max))]).first()
            sort_by = [zorder_key(
                {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cluster_by})]
        elif cluster_mode != "sort":
            raise ValueError(f"unknown cluster_mode {cluster_mode!r}")
        _sel, keep = _split_files(base, _live_data(base.files), vmap)
        df, lineage_extra = _carry_lineage(df)
        new = self._write_data_files(
            df, base, sort_by=sort_by,
            rows_per_file=rows_per_file, extra_fields=lineage_extra)
        for e in new:
            e["ridc"] = True
        keep += self._prune_posdels(base.files, keep)
        keep += self._prune_eqdels(base.files, keep)
        return self._commit(base, keep + new, props)

    def clean_staging(self) -> list[str]:
        """Remove leftover write-staging dirs (data/.tmp-*) after a failed
        apply — the engine's delete_stage_on_error policy (ref
        DatabricksOutputPlugin.java:176-183). Committed data files are
        never under .tmp-*, so this is always safe."""
        removed = []
        data_dir = os.path.join(self.root, "data")
        for fn in os.listdir(data_dir):
            if fn.startswith(".tmp-"):
                shutil.rmtree(os.path.join(data_dir, fn), ignore_errors=True)
                removed.append(f"data/{fn}")
        return removed

    def remove_orphan_files(self) -> list[str]:
        """Delete data files referenced by NO remaining manifest (Iceberg
        remove_orphan_files analog). Safe after expire_snapshots: the
        current snapshot's files are always retained. Returns removed
        relative paths."""
        referenced: set[str] = set()
        live_segs: set[str] = set()
        for fn in os.listdir(self._meta()):
            if fn.startswith("v") and fn.endswith(".json"):
                m = self.manifest(int(fn[1:-5]))
                # reachability = the VISIBLE file set of each live snapshot;
                # paths a live segment only names as tombstoned/shadowed are
                # garbage data (the segment itself stays until no snapshot
                # lists it)
                referenced.update(e["path"] for e in m.files)
                live_segs.update(getattr(m, "_segments", None) or [])
        removed = []
        data_dir = os.path.join(self.root, "data")
        for fn in os.listdir(data_dir):
            rel = f"data/{fn}"
            if fn.endswith(".parquet") and rel not in referenced:
                os.unlink(os.path.join(data_dir, fn))
                removed.append(rel)
        # segment GC (not reported in the data-file return): a segment named
        # by no remaining snapshot is unreachable after expire_snapshots
        for fn in os.listdir(self._meta()):
            if fn.startswith("seg-") and fn.endswith(".json") and fn not in live_segs:
                os.unlink(self._meta(fn))
                self._seg_cache.pop(fn, None)
        return removed

    def widen_column(self, name: str, new_type: str, properties: dict | None = None) -> Manifest:
        base = self.manifest()
        cur = base.schema_version
        if "." in name:  # nested struct field: same _WIDEN_OK contract
            def edit(children: list[dict], leaf: str) -> None:
                f = next((c for c in children if c["name"] == leaf), None)
                if f is None:
                    raise SchemaEvolutionError(f"no such field {name!r}")
                if f.get("fields"):
                    raise SchemaEvolutionError(
                        f"cannot widen struct field {name!r}: evolve its "
                        "children individually")
                if (f["type"], new_type) not in _WIDEN_OK:
                    raise SchemaEvolutionError(
                        f"cannot widen {name!r}: {f['type']} -> {new_type}")
                f["type"] = new_type

            return self._evolved(base, self._edit_nested(cur, name, edit),
                                 0, properties)
        f = next((f for f in cur.fields if f["name"] == name), None)
        if f is None:
            raise SchemaEvolutionError(f"no such column {name!r}")
        if (f["type"], new_type) not in _WIDEN_OK:
            # narrowing / incompatible cast rejected with no partial apply —
            # analog of the reference's unsupported-cast server errors
            # (TestDatabricksOutputPluginByUnsupported.java:33-119)
            raise SchemaEvolutionError(f"cannot widen {name!r}: {f['type']} -> {new_type}")
        fields = [{**g, "type": new_type} if g["name"] == name else dict(g) for g in cur.fields]
        return self._evolved(base, fields, 0, properties)
