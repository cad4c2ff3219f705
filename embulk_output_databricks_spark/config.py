"""Typed job config + fail-fast validation.

Mirrors the reference's config surface (DatabricksPluginTask,
DatabricksOutputPlugin.java:24-122 and README.md:28-46) re-expressed for a
Spark/lake deployment:

  reference                         -> here
  mode: insert|insert_direct|       -> ApplyMode (merge is the CDC path;
        truncate_insert|replace|       merge_direct rejected exactly like
        merge  (:108-122)              newBatchInsert does at :191-194)
  merge_keys / merge_rule (:36-37)  -> merge_keys (default ["doc_id"]),
                                       merge_rules {col: SQL expr over T./S.}
  before_load / after_load (:45-46) -> before_load / after_load SQL hooks
  batch_size 16MiB (:38)            -> max_events_per_batch (micro-batch bound)
  column_options.type (:40-41)      -> column_types {col: spark type name}
  default_timezone / timestamp_format -> timezone / timestamp_format
  delete_stage / _on_error (:30-31) -> keep_staging_on_error (inverted flag)
  retry_limit/retry_wait (:32-34)   -> handled by Spark task retries; replay-
                                       level retry is the fence (streaming/)

Validation raises ConfigError immediately (analog of Embulk ConfigException,
TestDatabricksOutputPluginByAuthType.java:36-70).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class ConfigError(ValueError):
    """Invalid engine configuration (fail-fast, before any Spark job runs)."""


class ApplyMode(str, Enum):
    INSERT = "insert"                    # staged append (ref README.md:50-53)
    INSERT_DIRECT = "insert_direct"      # unstaged append, at-least-once (:54-57)
    TRUNCATE_INSERT = "truncate_insert"  # truncate then append (:58-61)
    REPLACE = "replace"                  # atomic table swap (:62-65)
    MERGE = "merge"                      # keyed upsert (:66-69)


_VALID_MODES = {m.value for m in ApplyMode}

# Spark type names accepted for column_types overrides / widening targets.
_ALLOWED_TYPES = {
    "byte", "short", "int", "integer", "long", "bigint", "float", "double",
    "boolean", "string", "date", "timestamp", "decimal(38,9)",
    "array<int>", "array<bigint>",
}


@dataclass
class JobConfig:
    table: str = "sequences"
    mode: ApplyMode = ApplyMode.MERGE
    merge_keys: list[str] | None = None
                                  # None = DISCOVER: the reference derives
                                  # merge keys from the target's primary key
                                  # when merge_keys is omitted (README.md:36,
                                  # TestDatabaseMetadata.java:51-56); the
                                  # lake analog is the Iceberg-style
                                  # `identifier_fields` table property,
                                  # falling back to ["doc_id"] when the
                                  # target is new or unannotated. Explicit
                                  # keys always win; explicit [] is an error
                                  # under merge. Resolution happens at
                                  # driver/apply time (plans/apply.py
                                  # resolve_merge_keys) and newly created
                                  # merge targets are stamped with
                                  # identifier_fields so later omitted-key
                                  # jobs discover the same keys.
    merge_rules: dict[str, str] = field(default_factory=dict)
    before_load: str | None = None
    after_load: str | None = None
    column_types: dict[str, str] = field(default_factory=dict)
    timezone: str = "UTC"
    # ruby strftime, exactly as the reference's column_options accepts it
    # (default %Y-%m-%d %H:%M:%S.%6N, README.md:39); rendered via
    # functions/typemap.format_timestamp -> render_timestamp() below
    timestamp_format: str = "%Y-%m-%d %H:%M:%S.%6N"
    max_events_per_batch: int = 10_000_000
    target_apply_seconds: float = 0.0
                                  # adaptive chunk sizing: when > 0, the
                                  # driver SIZES the lsn-range sub-batches
                                  # from the last observed apply rate so
                                  # each chunk lands near this wall-clock
                                  # target (EWMA-smoothed events/sec; the
                                  # static max_events_per_batch stays the
                                  # hard ceiling). Bounds commit latency
                                  # and checkpoint-loss exposure when the
                                  # upstream delivers wildly varying batch
                                  # sizes (backfill bursts vs steady tail).
                                  # 0 = static chunking only.
    n_buckets: int = 16          # target-table bucket count; scale with data
    dedup_salt: int = 8          # salt fan-out for skewed LWW dedup
    dedup_strategy: str = "maxby"  # maxby | maxstruct | salted | window
    merge_strategy: str = "cow"   # cow (copy-on-write, the north-rule default)
                                  # | mor (merge-on-read: O(batch) delta
                                  #   appends, read-side resolution — the
                                  #   write-heavy/frequent-batch extension)
                                  # | auto (full-cycle cost model per
                                  #   batch: MOR only when the saved
                                  #   rewrite beats its deferred
                                  #   read-resolution + fold taxes — see
                                  #   replay.AUTO_MOR_READ_WEIGHT et al;
                                  #   decided from manifest row counts +
                                  #   the previous batch's observed size,
                                  #   zero data IO)
    mor_compact_every: int = 0    # mor only: fold deltas into base every N
                                  # batches (0 = manual compact_deltas())
    broadcast_merge_threshold: int = 500_000
                                  # cow merge: staged batches at or below this
                                  # row count merge on the driver (one
                                  # collect, Arrow kernel, pyarrow write)
                                  # when their pruned touched files fit
                                  # plans/merge.py DRIVER_MERGE_MAX_BYTES,
                                  # else use the broadcast plan (target
                                  # scanned, never shuffled); larger batches
                                  # fall back to the full-outer shuffle join.
                                  # 0 forces the shuffle plan.
    predictive_merge: bool = True
                                  # cow merge: skip the fused pre-pass JOB
                                  # when the previous batch proved it
                                  # useless (all buckets touched, size deep
                                  # in shuffle territory) — one Spark job
                                  # per batch instead of two. Mispredicts
                                  # are correct (full-table selection),
                                  # merely unpruned, and self-correct.
    predictive_min_rows: int = 1_000_000
                                  # floor on the previous staged size
                                  # before prediction may arm (keeps small
                                  # batches on the pruned pre-pass path
                                  # even when broadcast_merge_threshold=0)
    target_rows_per_bucket: int = 0
                                  # auto bucket-spec evolution: after a batch
                                  # commits, if rows > target * n_buckets the
                                  # driver rebucket()s (metadata-only) to the
                                  # next 4x count that satisfies the target —
                                  # the layout grows WITH the table instead of
                                  # freezing at creation-time scale. 0 = off.
    quarantine: bool = False      # apply-level dead letter: envelope-invalid
                                  # rows (NULL merge key, op outside I/U/D)
                                  # park under <table>/quarantine/batch-<id>/
                                  # with a reason instead of silently applying
                                  # (Kafka Connect errors.tolerance=all
                                  # posture). Off by default: dropping input
                                  # is policy, not a default.
    checkpoint_fold_every: int = 0
                                  # fold per-batch fence files into one span
                                  # file every N committed batches (keeps the
                                  # newest 8 as files). The per-batch fence
                                  # check is O(1) either way; folding keeps
                                  # startup recovery / reporting / contiguity
                                  # audits O(1) instead of O(batches) —
                                  # at 10^10 events that is 10^5+ tiny files.
                                  # 0 = manual (CheckpointStore.fold()).
    persist_source: bool = False  # cache batch events across lineage+dedup
                                  # passes (worth it only when the source is
                                  # expensive to rescan; a seeded synth or a
                                  # pruned parquet slice is cheaper to recompute
                                  # than to cache — measured in BENCH)
    keep_staging_on_error: bool = False
    rollups: list[dict] = field(default_factory=list)
                                  # maintained downstream aggregates
                                  # (streaming/aggmaint.py): each entry
                                  # {"name": str, "group_by": [cols],
                                  #  "sums": [cols]} keeps the rollup table
                                  # <table>__<name> in sync after every
                                  # batch — exactly-once via the rollup's
                                  # own consumed-version watermark, so a
                                  # crash between apply and sync self-heals
    history: dict | None = None   # maintained SCD2 type-2 history table
                                  # (streaming/scd2.py): {"name": str,
                                  #  "ts_col": "seq_lsn", "tie_col":
                                  #  "event_id"} keeps <table>__<name> as a
                                  # full per-key version history — every
                                  # change event a version row, closed by
                                  # the key's next event; deletes close
                                  # without opening. Rides the batch path
                                  # BEFORE the fence checkpoint: a crash
                                  # anywhere reruns the batch and the
                                  # history re-apply is idempotent by
                                  # (merge_keys, tie) identity.
    change_feed: bool = False     # Delta CDF analog (streaming/cdf.py):
                                  # every merge also persists its change
                                  # rows (I/U/D + old values) under
                                  # <table>/cdf/v<N>, so maintenance
                                  # consumers (rollups, token histogram,
                                  # near-dup/ANN indexes) sync from O(batch)
                                  # captured rows instead of an O(table)
                                  # snapshot diff. Gaps (foreign commits,
                                  # crash before the sidecar rename) fall
                                  # back to diff() — a fast path, never a
                                  # second source of truth. COW merge only;
                                  # incompatible with merge_rules/guard.
    support_deletes: bool = True  # op='D' extension (FIXTURES.md S12)
    merge_guard_col: str | None = None
                                  # cross-batch stale-writer guard: a matched
                                  # row updates/deletes only when the staged
                                  # row's value in this column strictly beats
                                  # the target's (WHEN MATCHED AND S.g > T.g
                                  # pattern). Protects against PARTIALLY
                                  # overlapping redelivery (failover re-read
                                  # under a fresh batch_id) that the
                                  # exact-replay fence cannot catch. COW only.
    auto_evolve: bool = False     # Delta mergeSchema analog: a batch that
                                  # carries a column the target lacks adds it
                                  # (metadata-only DDL, old rows read NULL)
                                  # before the apply, instead of dropping the
                                  # column. Off by default: the reference's
                                  # posture is explicit column_options DDL,
                                  # and silent widening of the target schema
                                  # is a policy decision, not a default.
    # replay-level retry of a failed batch apply (ref retry_limit 12 /
    # retry_wait 1000ms doubling to max_retry_wait 30min, README.md:32-34;
    # inherited AbstractJdbcOutputConnector). Idempotent by the fence: a
    # batch that died mid-apply is reconciled/skipped or cleanly re-applied.
    retry_limit: int = 12
    retry_wait_s: float = 1.0
    max_retry_wait_s: float = 1800.0

    def __post_init__(self) -> None:
        if isinstance(self.mode, str):
            if self.mode == "merge_direct":
                # ref rejects merge_direct: DatabricksOutputPlugin.java:191-194
                raise ConfigError("mode 'merge_direct' is not supported")
            if self.mode not in _VALID_MODES:
                raise ConfigError(f"unknown mode {self.mode!r}; valid: {sorted(_VALID_MODES)}")
            self.mode = ApplyMode(self.mode)
        if not self.table or len(self.table) > 127:
            # max identifier length 127: DatabricksOutputPlugin.java:111
            raise ConfigError("table name must be 1..127 chars")
        if self.mode is ApplyMode.MERGE and self.merge_keys is not None \
                and not self.merge_keys:
            # merge requires keys (ref README.md:36: required when the table
            # has no primary key). None means discover-from-metadata
            # (identifier_fields property, then the ['doc_id'] default,
            # SURVEY B7); an EXPLICIT empty list is always a config error.
            raise ConfigError("merge mode requires non-empty merge_keys "
                              "(or None to discover from identifier_fields)")
        if self.mode is ApplyMode.REPLACE and self.before_load:
            # ref README.md:45: before_load is not supported in replace
            # mode (the table it would run against is about to be swapped)
            raise ConfigError("before_load is not supported in mode "
                              "'replace'")
        for col, typ in self.column_types.items():
            if typ.lower() not in _ALLOWED_TYPES:
                raise ConfigError(f"column_types[{col!r}]: unsupported type {typ!r}")
        if self.dedup_strategy not in ("maxby", "maxstruct", "salted", "window"):
            raise ConfigError(f"unknown dedup_strategy {self.dedup_strategy!r}")
        if self.merge_strategy not in ("cow", "mor", "auto"):
            raise ConfigError(f"unknown merge_strategy {self.merge_strategy!r}")
        if self.merge_strategy in ("mor", "auto") and self.merge_rules:
            # a merge_rule reads T.col at write time — exactly the target
            # scan merge-on-read avoids; rules require copy-on-write
            # (auto may pick mor on any batch, so it inherits the limit)
            raise ConfigError("merge_rules require merge_strategy='cow'")
        if self.merge_strategy in ("mor", "auto") and self.merge_guard_col:
            # MOR resolves winners by commit sequence — exactly what an
            # out-of-order redelivery breaks; guarded tables need COW
            raise ConfigError("merge_guard_col requires merge_strategy='cow'")
        if self.change_feed:
            if self.mode is not ApplyMode.MERGE:
                raise ConfigError("change_feed requires mode='merge'")
            if self.merge_strategy != "cow":
                # MOR already has a physical change feed (changelog());
                # write-time capture is the COW counterpart
                raise ConfigError("change_feed requires merge_strategy='cow'")
            if self.merge_rules or self.merge_guard_col:
                raise ConfigError("change_feed is incompatible with "
                                  "merge_rules/merge_guard_col (capture "
                                  "cannot re-derive their applied rows)")
        if self.mor_compact_every < 0:
            raise ConfigError("mor_compact_every must be >= 0")
        if self.checkpoint_fold_every < 0:
            raise ConfigError("checkpoint_fold_every must be >= 0")
        if self.retry_limit < 0 or self.retry_wait_s <= 0 \
                or self.max_retry_wait_s < self.retry_wait_s:
            raise ConfigError("retry_limit must be >= 0 and "
                              "retry_wait_s <= max_retry_wait_s (both > 0)")
        if self.n_buckets < 1 or self.dedup_salt < 1:
            raise ConfigError("n_buckets and dedup_salt must be >= 1")
        if self.target_rows_per_bucket < 0:
            raise ConfigError("target_rows_per_bucket must be >= 0")
        if self.target_apply_seconds < 0:
            raise ConfigError("target_apply_seconds must be >= 0")
        seen_rollups = set()
        for r in self.rollups:
            name, grp = r.get("name"), r.get("group_by")
            if not name or not isinstance(grp, list) or not grp:
                raise ConfigError(
                    "each rollup needs a name and a non-empty group_by list")
            if name in seen_rollups:
                raise ConfigError(f"duplicate rollup name {name!r}")
            seen_rollups.add(name)
            if not isinstance(r.get("sums", []), list):
                raise ConfigError(f"rollup {name!r}: sums must be a list")
            if self.mode is not ApplyMode.MERGE:
                raise ConfigError("rollups require mode='merge' "
                                  "(maintenance consumes the keyed diff)")
        if self.history is not None:
            if not self.history.get("name"):
                raise ConfigError("history requires a name")
            if self.mode is not ApplyMode.MERGE:
                raise ConfigError("history requires mode='merge' "
                                  "(versions are keyed by merge_keys)")

    def render_timestamp(self, col):
        """Render a (UTC-stored) timestamp Column as text under this
        config's ruby timestamp_format + timezone — the per-column
        column_options leg (ref README.md:39,43-44)."""
        from .functions.typemap import format_timestamp

        return format_timestamp(col, self.timestamp_format, self.timezone)

    def redacted(self) -> dict:
        """Loggable config dump with secret-shaped keys masked (analog of
        logConnectionProperties masking PWD/OAuth2Secret,
        DatabricksOutputPlugin.java:207-217)."""
        out = {}
        for k, v in self.__dict__.items():
            if any(s in k.lower() for s in ("token", "secret", "password", "pwd")):
                v = "***"
            out[k] = v.value if isinstance(v, Enum) else v
        return out
