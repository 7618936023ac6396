"""Manifest-versioned parquet store: snapshots + time travel (S9 depth).

The reference intends object-store-resident tabular files fronted by a
catalog (reference docker-compose.yaml:2-40 — MinIO for data, Postgres
for metadata). ``upsert.py`` gives partition-scoped merge over plain
parquet but mutates in place: history is lost and concurrent readers
can observe a half-written partition. This module adds the missing
table-format layer — an Iceberg-style manifest per version over
immutable data files — with pure-Spark writes:

Layout (all immutable once written)::

    <root>/data/<pc>=<val>/v=<N>/part-*.parquet   data files
    <root>/_manifests/v<N>.json                   {partition val -> version}

(after a ``repartition_spec`` the data dir holds partition dirs under
more than one column — each file stays under the spec it was written
with, and manifest keys become qualified ``col=val``; see S30 below)

- A **commit** writes its rows under ``v=<N>`` partition subdirs via
  ``partitionBy(pc, "v")`` — a brand-new version number, so it can
  never collide with files any existing manifest references.
- The new **manifest** is the previous one with only the affected
  partition pointers repointed at N. Untouched partitions keep their
  old pointers: copy-on-write at partition granularity — zero data
  movement for the untouched 99% of a 100 TB table.
- **Readers** resolve a manifest to a dir list and hand Spark exactly
  those leaf dirs with ``basePath`` set, so the partition column and
  the version column come back from directory parsing and partition
  pruning still works. Snapshot isolation falls out: a reader pinned
  to manifest N sees byte-identical data forever, regardless of later
  commits. Manifest publication is a single JSON rename — the atomic
  commit point (same mechanism as Iceberg's version-hint swap).

Manifest format: one JSON object per version (``sort_keys``). Its
TABLE-STATE keys are ``partitions`` (always present), ``schema``,
``stats``, ``deletes``, ``colmap``, ``defaults`` and ``specs`` (see
``SnapshotStore._TABLE_STATE_KEYS`` for each one's meaning); its
PER-VERSION keys are ``version``, ``committed_at`` and ``op``. Every
verb publishes through ``SnapshotStore._publish``: the new manifest is
its base manifest's table-state keys overridden by only the keys the
verb changes (a change of ``None`` removes a key), stamped with fresh
per-version keys, which are never inherited. Empty ``deletes``,
``defaults`` and ``specs`` are omitted; ``colmap`` is kept even when
empty, since its presence marks an evolved table. A full ``commit``
derives from an empty base: it resets the schema epoch by intent.
(Delta commits only the actions that change the prior table state,
and Iceberg builds each table metadata from its base the same way.)

Scale: the manifest holds one entry per *partition* (not per file), so
resolution is O(partitions) driver-side — thousands, not billions. A
production deployment shards manifests per Iceberg once partition
count outgrows one JSON, with identical reader mechanics.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from contextlib import contextmanager

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from karna_spark import intermediates


@contextmanager
def _no_partition_inference(spark: "SparkSession"):
    """Partition-type inference OFF for the enclosed scans (one shared
    implementation — this save/disable/restore dance used to be
    copy-pasted per call site): inference re-renders numeric-looking
    string partition values ('00123' → 123 → '123'), so any path whose
    values must round-trip the directory layout byte-exactly — which
    is every snapshot-store scan — reads the RAW directory string and
    casts to the declared type itself. try/finally: a scan error must
    not leak the disabled conf session-wide."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


class ConcurrentWriteError(RuntimeError):
    """A concurrent commit published between this writer's manifest
    read and its publish attempt; the write was NOT published (its
    data files are unreferenced orphans for vacuum). Retry the
    operation against the new latest version."""


# Spark/Hive partition-directory escaping (ExternalCatalogUtils):
# these characters are written as %XX (uppercase hex) in dir names.
_ESCAPED_CHARS = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(0x20)}


def _escape_partition(val: str) -> str:
    """Raw partition value -> directory-name form (Hive escaping)."""
    return "".join(
        f"%{ord(c):02X}" if c in _ESCAPED_CHARS else c for c in val
    )


def _remove_leaf_dir(path: str, ignore_errors: bool = False) -> None:
    """Remove a data leaf dir (``<col>=<val>/v=<N>`` or a delete-set
    dir). A SYMLINKED leaf — shallow-clone inheritance
    (:meth:`SnapshotStore.clone`) — is unlinked instead: the clone's
    reference drops, the source table's bytes are never touched.
    ``ignore_errors`` applies to both branches (redact's best-effort
    cleanup must stay non-throwing on a racing unlink)."""
    import shutil

    if os.path.islink(path):
        try:
            os.unlink(path)
        except OSError:
            if not ignore_errors:
                raise
    else:
        shutil.rmtree(path, ignore_errors=ignore_errors)


def _unescape_partition(name: str) -> str:
    """Directory-name form -> raw partition value (%XX decoding)."""
    out, i = [], 0
    while i < len(name):
        if name[i] == "%" and i + 3 <= len(name):
            try:
                out.append(chr(int(name[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(name[i])
        i += 1
    return "".join(out)


def with_commit_retries(op, retries: int = 3, backoff_sec: float = 0.05):
    """Iceberg-style commit-retry loop for CAS-validated writes.

    ``op`` is a zero-argument callable performing ONE write attempt
    (e.g. ``lambda: store.upsert(spark, delta, keys)``). On
    :class:`ConcurrentWriteError` the attempt is repeated — upsert/
    apply_changes re-read the latest manifest on every call, so a
    retry bases itself on the racer's published version and both
    writes land. The failed attempt's data files are unreferenced
    orphans (vacuum collects them once their claim ages out). Raises
    the last ConcurrentWriteError after ``retries`` retries."""
    attempt = 0
    while True:
        try:
            return op()
        except ConcurrentWriteError:
            if attempt >= retries:
                raise
            attempt += 1
            time.sleep(backoff_sec * attempt)


class SnapshotStore:
    """Versioned partitioned parquet table rooted at ``root``."""

    # Accumulated MOR delete sets up to this size (on-disk parquet
    # bytes) are broadcast on read; larger sets fall back to a plain
    # anti-join (see :meth:`read`). Parquet of (_rv,_rid) pairs is
    # ~16B/row, so 64 MB ≈ 4M deleted rows still broadcast.
    BROADCAST_DELETES_MAX_BYTES = 64 << 20

    def __init__(
        self,
        root: str,
        partition_col: str,
        clock=None,
        distribution: str = "none",
    ):
        self.root = root
        self.pc = partition_col
        # Write distribution mode (Iceberg's write.distribution-mode):
        # 'hash' REBALANCEs rows by the partition value right before
        # every incremental write, so each partition directory gets a
        # few well-sized files instead of one tiny file per upstream
        # task — without it, an N-task delta touching P partition
        # values writes up to N×P files, each paying writer setup on
        # the way out and open/footer costs on every read back. AQE
        # both coalesces the small rebalance partitions and splits
        # skewed ones (optimizeSkewsInRebalancePartitions), so 'hash'
        # holds from a hot-partition 100 TB table down to fixtures.
        # Default 'none' (preserve input partitioning): measured at
        # local fixture scale (OPTIMIZATION_r12.md) the per-write
        # rebalance exchange costs more than the file fan-out it
        # avoids — writes there are a handful of KB-scale files on a
        # local FS — while read-heavy tables (e.g. an incrementally
        # maintained MV re-read on every refresh) already win locally
        # and pass distribution='hash' explicitly, as does any table on
        # a real cluster, where a delta write is hundreds of tasks and
        # file counts are an object-store bill (per table,
        # Iceberg-style).
        self.distribution = distribution
        if distribution not in ("hash", "none"):
            raise ValueError(
                f"unknown write distribution {self.distribution!r}; "
                "expected 'hash' or 'none'"
            )
        # Injectable commit clock (tests pass a deterministic fake):
        # every published manifest is stamped ``committed_at`` so
        # ``read(as_of=<ts>)`` — the time-travel form humans actually
        # use — can resolve "the table as of 3pm" to a version.
        self._clock = clock if clock is not None else time.time
        self.data = os.path.join(root, "data")
        self.mdir = os.path.join(root, "_manifests")
        # Version claims are store-GLOBAL (shared with branches): a
        # branch store overrides cdir/data to its parent's, so every
        # version number is unique across all chains and branch writes
        # land in the shared data dir without collisions.
        self.cdir = self.mdir
        self._branch_meta: dict | None = None  # set on branch stores
        # delete-set byte sizes are immutable once written; cache the
        # per-directory walk so hot reads never repeat filesystem I/O
        self._dbytes_cache: dict[str, int] = {}
        os.makedirs(self.mdir, exist_ok=True)

    # ---------------------------------------------------- manifests
    def _mpath(self, v: int) -> str:
        return os.path.join(self.mdir, f"v{v}.json")

    def latest_version(self) -> int:
        return max(self._published_versions(), default=0)

    def _manifest(self, v: int) -> dict[str, int]:
        return self._manifest_doc(v)["partitions"]

    def _manifest_doc(self, v: int | None = None) -> dict:
        """Manifest of version ``v`` (default: the latest)."""
        v = self.latest_version() if v is None else v
        with open(self._mpath(v)) as fh:
            return json.load(fh)

    def _claim_version(self) -> int:
        """Reserve the next version number exclusively. A ``.claim``
        marker is created with O_EXCL before any data is written, so a
        crashed commit's half-written ``v=<N>`` files are simply
        orphaned (never referenced — the retry claims N+1) and two
        concurrent writers can never write into the same version
        directory. Orphans are unreferenced garbage, Iceberg-style;
        a vacuum can drop any v=<N> dir with no published manifest."""
        v = self.latest_version() + 1
        while True:
            try:
                fd = os.open(
                    os.path.join(self.cdir, f"v{v}.json.claim"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.close(fd)
                return v
            except FileExistsError:
                v += 1

    # The table-state keys: what a version inherits from the manifest
    # it derives from. Everything else in a manifest is the version's
    # own stamp (``version``, ``committed_at``, ``op``) and is never
    # inherited.
    #   partitions  {key -> pointer version}: the data-dir pointers
    #   schema      StructType JSON of the LOGICAL schema
    #   stats       {key -> {"__rows": n, <physical col>: [min, max]}}
    #               per-partition footer row counts and bounds (S20)
    #   deletes     merge-on-read delete entries (S27 position sets,
    #               S31 equality key sets); omitted when empty
    #   colmap      {logical -> physical} column names; presence (even
    #               {}) marks an evolved table: reads project the
    #               manifest's LOGICAL schema through this mapping (S28)
    #   defaults    S28 add-column defaults (Iceberg v3 initial-default):
    #               {logical: {"value": .., "since": <add version>}} —
    #               reads substitute value for rows written BEFORE the
    #               add; omitted when empty
    #   specs       S30 partition-spec evolution (Iceberg partition
    #               specs): ordered [{"col": <physical col>, "since":
    #               <version>}], the spec history, newest last (= the
    #               column new writes partition by). Presence marks a
    #               spec-evolved table: ALL partition keys (partitions,
    #               stats, delete-entry partitions) are then QUALIFIED
    #               ``"<col>=<raw value>"`` — each pointer's key embeds
    #               the spec it was written under, so values from
    #               different specs can never collide in one manifest.
    #               Omitted when empty.
    _TABLE_STATE_KEYS = (
        "partitions", "schema", "stats", "deletes", "colmap",
        "defaults", "specs",
    )
    _OMIT_EMPTY = ("deletes", "defaults", "specs")

    def _publish(
        self,
        v: int,
        base: dict,
        op: str | None = None,
        *,
        base_version: int | None = None,
        **changes,
    ) -> int:
        """Publish manifest ``v`` (returned): ``base``'s table-state keys
        (:attr:`_TABLE_STATE_KEYS`) overridden by ``changes`` — a
        change of ``None`` removes its key — stamped with ``version``,
        ``committed_at`` and ``op`` (the operation that produced the
        version, S35: Iceberg's snapshot summary "operation" field).
        ``base`` is the manifest doc this version derives from; a bare
        partition-pointer map is read as ``{"partitions": base}``.

        When ``base_version`` is given the publish is CAS-style
        (Iceberg's commit validation): the manifest was derived from
        ``base_version``'s pointers, so any OTHER version published in
        between means this writer would silently drop the interleaved
        commit's partition pointers — a lost update. The check runs
        immediately before the link AND is re-validated after it
        (version numbers are totally ordered and claims exclusive, so
        of two racers that both pass the pre-check, each sees the
        other's manifest post-publish, rolls its own back, and raises
        — in the worst case BOTH racers abort and retry, but a lost
        update can never be published silently)."""
        unknown = set(changes) - set(self._TABLE_STATE_KEYS)
        if unknown:
            raise TypeError(f"not a table-state key: {sorted(unknown)}")
        if base_version is not None and self.latest_version() != base_version:
            raise ConcurrentWriteError(
                f"base moved: this write derived from v{base_version}, "
                f"head is now v{self.latest_version()}; retry the write"
            )
        if "partitions" not in base:
            base = {"partitions": base}
        doc = {k: base[k] for k in self._TABLE_STATE_KEYS if k in base}
        for k, val in changes.items():
            if val is None:
                doc.pop(k, None)
            else:
                doc[k] = val
        for k in self._OMIT_EMPTY:
            if not doc.get(k):
                doc.pop(k, None)
        # wall-clock commit stamp (injectable via __init__ clock) —
        # the resolution key for read(as_of=<ts>)
        doc["version"] = v
        doc["committed_at"] = float(self._clock())
        if op is not None:
            doc["op"] = op
        tmp = self._mpath(v) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh, sort_keys=True)
        # Link-then-unlink instead of rename: os.link fails with EEXIST
        # if this version was somehow already published (rename would
        # silently last-win), so a version can only ever be created
        # once — the atomic commit point.
        os.link(tmp, self._mpath(v))
        os.unlink(tmp)
        if base_version is not None:
            racers = [
                w
                for w in self._published_versions()
                if w > base_version and w != v
            ]
            if racers:
                os.unlink(self._mpath(v))  # roll back our own manifest
                raise ConcurrentWriteError(
                    f"commit v{racers[-1]} raced this write (base "
                    f"v{base_version}, claimed v{v}); this write was "
                    "rolled back — retry"
                )
        return v

    def _commit(self, op: str, stage, *args) -> int:
        """The commit protocol of every CAS-published verb (Delta's and
        Iceberg's): read the base manifest BEFORE anything is claimed,
        ``stage(doc, *args)`` validates, claims, writes and returns
        ``(v, changes)``, and ``v`` is published as the base plus
        ``changes`` with the race check. Base-first matters: a writer
        that claimed first could base on a racer's newer head yet
        publish a LOWER version that passes both race checks and is
        never served — a lost update no retry loop catches."""
        base_v = self.latest_version()
        if base_v == 0:
            raise ValueError(f"{op} needs a published version")
        doc = self._manifest_doc(base_v)
        v, changes = stage(doc, *args)
        return self._publish(v, doc, op, base_version=base_v, **changes)

    def _published_versions(self) -> list[int]:
        return sorted(
            int(f[1:-5])
            for f in os.listdir(self.mdir)
            if f.startswith("v") and f.endswith(".json")
        )

    # ------------------------------- partition-spec helpers (S30)
    def _doc_specs(self, doc: dict) -> list[dict]:
        """Spec history of a manifest (oldest→newest). Un-evolved
        tables have the implicit single spec: the ``__init__``
        partition column since v0."""
        return doc.get("specs") or [{"col": self.pc, "since": 0}]

    def _cur_spec(self, doc: dict) -> str:
        """PHYSICAL column new writes partition by under this doc."""
        return self._doc_specs(doc)[-1]["col"]

    def _split_key(self, doc: dict, key: str) -> tuple[str, str]:
        """Manifest partition key → (physical spec col, raw value).
        Spec-evolved manifests hold qualified ``col=val`` keys;
        un-evolved manifests hold the raw value (full back-compat
        with every manifest already on disk)."""
        if "specs" in doc:
            col, _, val = key.partition("=")
            return col, val
        return self.pc, key

    @staticmethod
    def _mk_key(doc: dict, col: str, val: str) -> str:
        """(spec col, raw value) → manifest key in ``doc``'s format."""
        return f"{col}={val}" if "specs" in doc else val

    def _logical_of(self, doc: dict, phys: str) -> str:
        """LOGICAL name a physical column currently maps to (S28
        rename is metadata-only, so a spec column's physical name is
        stable while its logical name may drift)."""
        for lg, ph in (doc.get("colmap") or {}).items():
            if ph == phys:
                return lg
        return phys

    # -------------------- composite / transform partition specs (S30b)
    #
    # Iceberg partition specs are ORDERED MULTI-FIELD with transforms
    # (identity, bucket(n), truncate(w)); the partition tuple is the
    # field values concatenated. Re-expressed here by REIFYING the
    # tuple as one derived string column (synthetic name ``__sp<v>``,
    # never part of the table schema): each field renders to a
    # canonical string component (identity = cast-to-string, bucket =
    # crc32(str(v)) mod n, truncate = prefix / floor-to-multiple),
    # components are %-escaped and joined with ``~``. The SAME
    # rendering exists twice — a Spark Column expression for writes
    # and a pure-python twin for driver-side key construction and
    # partition pruning (:meth:`spec_key` / :meth:`prune_keys`) — so
    # a predicate on any SOURCE field prunes directories before Spark
    # lists a file, exactly Iceberg's manifest-level partition
    # pruning through a transform spec.

    _SPEC_NULL = "__null__"

    @staticmethod
    def _parse_spec_field(s: str) -> dict:
        """``'col'`` | ``'bucket(n, col)'`` | ``'truncate(w, col)'``
        → ``{"src": <name>, "t": None | ["bucket", n] | ["truncate", w]}``
        (``src`` still logical here; the caller resolves physical)."""
        import re

        m = re.fullmatch(
            r"\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*", s
        )
        if m:
            n = int(m.group(2))
            if n <= 0:
                raise ValueError(f"{m.group(1)} width must be positive: {s!r}")
            return {"src": m.group(3), "t": [m.group(1), n]}
        m = re.fullmatch(r"\s*(\w+)\s*", s)
        if m:
            return {"src": m.group(1), "t": None}
        raise ValueError(
            f"unparseable spec field {s!r}: expected 'col', "
            "'bucket(n, col)' or 'truncate(w, col)'"
        )

    @classmethod
    def _py_spec_component(cls, val, t) -> str:
        """Driver-side twin of :meth:`_spec_component_expr` — MUST
        render byte-identically to the Spark expression (both sides
        restrict sources to int-like/string/date, whose canonical
        string forms agree between ``str()`` and Spark's cast)."""
        if val is None:
            return cls._SPEC_NULL
        if t is None:
            comp = str(val)
        elif t[0] == "bucket":
            import zlib

            comp = str(zlib.crc32(str(val).encode("utf-8")) % t[1])
        else:  # truncate
            if isinstance(val, str):
                comp = val[: t[1]]
            else:
                comp = str(int(val) - (int(val) % t[1]))
        return comp.replace("%", "%25").replace("~", "%7E")

    @classmethod
    def _spec_component_expr(cls, c, t, dtype):
        """Spark rendering of one spec field (see the python twin)."""
        if t is None:
            comp = c.cast("string")
        elif t[0] == "bucket":
            # crc32 over the canonical utf-8 string — the one hash
            # available identically JVM-side (F.crc32) and driver-side
            # (zlib.crc32); pmod keeps the remainder non-negative on
            # both sides
            comp = F.pmod(
                F.crc32(c.cast("string").cast("binary")), F.lit(t[1])
            ).cast("string")
        else:  # truncate: string prefix / int floor-to-multiple
            from pyspark.sql.types import StringType as _St

            if isinstance(dtype, _St):
                comp = F.substring(c, 1, t[1])
            else:
                comp = (c - F.pmod(c, F.lit(t[1]))).cast("long").cast("string")
        esc = F.regexp_replace(
            F.regexp_replace(comp, "%", "%25"), "~", "%7E"
        )
        return F.when(c.isNull(), F.lit(cls._SPEC_NULL)).otherwise(esc)

    def _spec_expr(self, doc: dict, spec: dict, logical: bool):
        """Derived partition-value Column for a composite spec, over
        the frame's LOGICAL names (delta/CDC frames) or PHYSICAL names
        (post ``_to_physical`` write frames)."""
        schema = StructType.fromJson(json.loads(doc["schema"]))
        cm = doc.get("colmap") or {}
        ptype = {cm.get(f.name, f.name): f.dataType for f in schema.fields}
        comps = []
        for f in spec["fields"]:
            src = f["src"]
            name = self._logical_of(doc, src) if logical else src
            comps.append(
                self._spec_component_expr(F.col(name), f["t"], ptype[src])
            )
        return F.concat_ws("~", *comps)

    def _with_spec_col(self, df: DataFrame, doc: dict, logical: bool):
        """(frame carrying the current spec's partition column, its
        name): identity for single-column specs; composite specs get
        the derived column computed from their source fields."""
        spec = self._doc_specs(doc)[-1]
        if not spec.get("fields"):
            cur = spec["col"]
            return df, (self._logical_of(doc, cur) if logical else cur)
        return (
            df.withColumn(spec["col"], self._spec_expr(doc, spec, logical)),
            spec["col"],
        )

    def _spec_protected_cols(self, doc: dict) -> set[str]:
        """Physical columns rename/drop must refuse while any manifest
        may point through them: every spec column in the history PLUS
        every composite spec's SOURCE columns (future writes under the
        spec derive the partition value from them)."""
        out: set[str] = set()
        for s in self._doc_specs(doc):
            out.add(s["col"])
            for f in s.get("fields") or []:
                out.add(f["src"])
        return out

    def spec_key(self, values: dict, version: int | None = None) -> str:
        """Manifest partition key for the CURRENT spec given source
        field values by LOGICAL name — the handle for manifest-pruned
        point reads on a composite spec: ``read(spark,
        partition_values=[store.spec_key({"region": "EU", "k": 42})])``
        scans exactly one directory of a 100 TB table."""
        doc = self._manifest_doc(version)
        spec = self._doc_specs(doc)[-1]
        if not spec.get("fields"):
            lg = self._logical_of(doc, spec["col"])
            return self._mk_key(doc, spec["col"], str(values[lg]))
        comps = [
            self._py_spec_component(
                values[self._logical_of(doc, f["src"])], f["t"]
            )
            for f in spec["fields"]
        ]
        return f"{spec['col']}={'~'.join(comps)}"

    def prune_keys(
        self, field: str, value, version: int | None = None
    ) -> list[str]:
        """Manifest keys that could hold rows with ``field == value``
        — equality-predicate partition pruning evaluated through EVERY
        spec epoch (Iceberg evaluates a scan predicate against each
        manifest's own spec): a key under a spec deriving from
        ``field`` is kept only when its stored component equals the
        transformed value; keys under specs that never mention the
        field are kept (conservative — pruning may fail to skip, never
        lose rows). Pure driver-side manifest work, zero I/O."""
        return self._prune_keys(self._manifest_doc(version), field, value)

    def _prune_keys(self, doc: dict, field: str, value) -> list[str]:
        """:meth:`prune_keys` evaluated against manifest ``doc``."""
        phys = (doc.get("colmap") or {}).get(field, field)
        specs = {s["col"]: s for s in self._doc_specs(doc)}
        out = []
        for key in sorted(doc["partitions"]):
            col, val = self._split_key(doc, key)
            s = specs.get(col)
            if s is not None and s.get("fields"):
                comps = val.split("~")
                keep = True
                for f, comp in zip(s["fields"], comps):
                    if f["src"] == phys and (
                        self._py_spec_component(value, f["t"]) != comp
                    ):
                        keep = False
                        break
                if keep:
                    out.append(key)
            elif col == phys:
                if str(value) == val:
                    out.append(key)
            else:
                out.append(key)
        return out

    def repartition_spec(self, new_col: "str | list[str]") -> int:
        """S30: change the partition spec — METADATA-ONLY (Iceberg
        partition-spec evolution): publishes a new version whose
        pointers are a copy of the base, re-keyed to qualified
        ``col=val`` form, with ``new_col`` appended to the spec
        history. No data file is touched: files written before this
        version stay under (and are read under) their own spec;
        writes from this version on partition by ``new_col``.

        Composition on a mixed-spec table (all model-checked):
        reads union the per-spec scans; :meth:`upsert` /
        :meth:`apply_changes` retire matching rows in old-spec
        partitions through a merge-on-read delete entry (no old-spec
        directory is ever rewritten in place — its rows would
        redistribute into new-spec directories and collide with
        inherited pointers); :meth:`compact` with no partition list
        rewrites the whole table under the current spec — the
        migration op (Iceberg's ``rewrite_data_files`` to latest
        spec). ``new_col`` is resolved through the colmap (pass the
        LOGICAL name); it must exist and not already be the current
        spec.

        S30b — MULTI-FIELD / TRANSFORM specs: pass a LIST of field
        strings instead of a column name — ``["region",
        "bucket(16, custkey)"]`` or ``["truncate(4, name)"]`` —
        mirroring Iceberg's ordered partition spec with identity /
        ``bucket(n)`` / ``truncate(w)`` transforms. The spec is
        reified as ONE derived string column (see the S30b helper
        block): the same metadata-only flip, mixed-spec read/upsert/
        CDC/compact composition, and migration story as a single-
        column respec, plus :meth:`spec_key` / :meth:`prune_keys` for
        manifest-pruned point reads and equality-predicate pruning
        through the transforms. Sources are restricted to int-like /
        string / date columns — the types whose canonical string
        rendering is identical JVM-side and driver-side (floats and
        timestamps are not: scientific notation / zone formatting
        would make the python pruning twin disagree with the written
        directory names). A one-field identity list degrades to the
        single-column spec form."""
        return self._commit("respec", self._stage_respec, new_col)

    def _stage_respec(self, doc: dict, new_col):
        if doc.get("schema") is None:
            raise ValueError("manifest carries no schema to evolve")
        schema = StructType.fromJson(json.loads(doc["schema"]))
        names = [f.name for f in schema.fields]
        cm = dict(
            doc.get("colmap") or {f.name: f.name for f in schema.fields}
        )
        if isinstance(new_col, (list, tuple)):
            fields = [self._parse_spec_field(s) for s in new_col]
            if not fields:
                raise ValueError("empty partition spec")
            if len(fields) == 1 and fields[0]["t"] is None:
                new_col = fields[0]["src"]  # degrade to single-column
        if isinstance(new_col, (list, tuple)):
            from pyspark.sql.types import (
                ByteType, DateType, IntegerType, ShortType,
            )

            ok_types = (
                ByteType, ShortType, IntegerType, LongType,
                StringType, DateType,
            )
            ftypes = {f.name: f.dataType for f in schema.fields}
            for f in fields:
                if f["src"] not in names:
                    raise ValueError(f"no such column: {f['src']!r}")
                dt = ftypes[f["src"]]
                if not isinstance(dt, ok_types):
                    raise ValueError(
                        f"spec field {f['src']!r} has type "
                        f"{dt.simpleString()}; composite specs take "
                        "int-like / string / date sources (canonical "
                        "string rendering must match driver-side)"
                    )
                if (
                    f["t"] is not None
                    and f["t"][0] == "truncate"
                    and isinstance(dt, DateType)
                ):
                    raise ValueError("truncate() takes int or string")
                f["src"] = cm.get(f["src"], f["src"])  # → physical
            cur = self._doc_specs(doc)[-1]
            if cur.get("fields") == fields:
                raise ValueError("this is already the partition spec")
            v = self._claim_version()
            dname = f"__sp{v}"
            if dname in {cm.get(n, n) for n in names}:
                raise ValueError(f"column name {dname!r} is reserved")
            specs = [dict(s) for s in self._doc_specs(doc)]
            specs.append({"col": dname, "since": v, "fields": fields})
        else:
            if new_col not in names:
                raise ValueError(f"no such column: {new_col!r}")
            phys = cm.get(new_col, new_col)
            if phys == self._cur_spec(doc):
                raise ValueError(
                    f"{new_col!r} is already the partition column"
                )
            v = self._claim_version()
            specs = [dict(s) for s in self._doc_specs(doc)]
            specs.append({"col": phys, "since": v})

        # re-key every partition-value reference to qualified form:
        # a pointer keeps the spec col it was written under (for an
        # un-evolved base that is the single implicit spec; for an
        # already-evolved base the key carries its col already)
        def rq(key: str) -> str:
            col, val = self._split_key(doc, key)
            return f"{col}={val}"

        new_parts = {rq(k): pv for k, pv in doc["partitions"].items()}
        new_stats = {
            rq(k): st
            for k, st in (doc.get("stats") or {}).items()
            if k in doc["partitions"]
        }
        new_dels = None
        if doc.get("deletes"):
            new_dels = [
                # eq entries (S31) are global — nothing to re-key
                {**e, "partitions": [rq(p) for p in e["partitions"]]}
                if "partitions" in e
                else dict(e)
                for e in doc["deletes"]
            ]
        return v, dict(
            partitions=new_parts, stats=new_stats or None,
            deletes=new_dels, colmap=cm, specs=specs,
        )

    # ------------------------------------------------------- writes
    def _write(
        self,
        df: DataFrame,
        v: int,
        order_by: list[str] | None = None,
        spec_col: str | None = None,
        cluster: bool | None = None,
    ) -> list[str]:
        """Write ``df`` under v=<v> subdirs; return the partition
        values actually WRITTEN (computed from the materialized result
        so the manifest never points at a directory the write did not
        create — a partition whose rows were all merged away yields no
        ``v=<N>`` subdir and must not be published). Directory names
        are Hive-escaped by Spark (space-free values pass through; a
        value containing ``%``/``=``/``/``... is %XX-encoded), so they
        are UNESCAPED back to raw values here — manifest keys always
        hold the raw partition value, and path construction re-escapes
        (r7 ADVICE: returning the escaped name verbatim made upsert
        retain the old pointer AND add the escaped-name key, serving
        that partition's rows twice).

        INVARIANT: cached frames that scan the store keep its partition
        typing across the store's own writes. Spark refreshes every
        cached plan that reads under a written path, so every write
        runs with partition-type inference off — with it on, MERGE
        INTO's pinned feed (a scan of the target) re-read a ``v=1``
        directory as an integer where its scan declares a string."""
        pc = spec_col if spec_col is not None else self.pc
        # Partition-column type gate (same reasoning as composite-spec
        # sources): manifest keys round-trip through Spark's directory
        # rendering, and the store's own value rendering (str() in
        # _affected_values / prune_keys) must agree with it byte-for-
        # byte. That holds for int-like / string / date — NOT for
        # boolean (str(True)='True' vs dir 'true'), floats (scientific
        # notation), or timestamps (zone formatting): a mismatch makes
        # upsert REPLACE instead of merge (silent row loss) and
        # where_eq prune live partitions. Refuse loudly instead.
        pfield = next((f for f in df.schema.fields if f.name == pc), None)
        if pfield is not None:
            from pyspark.sql.types import (
                ByteType, DateType, IntegerType, ShortType,
            )

            if not isinstance(
                pfield.dataType,
                (ByteType, ShortType, IntegerType, LongType,
                 StringType, DateType),
            ):
                raise ValueError(
                    f"partition column {pc!r} has type "
                    f"{pfield.dataType.simpleString()}; the snapshot "
                    "store partitions by int-like / string / date "
                    "columns (their canonical string rendering matches "
                    "the directory layout — booleans/floats/timestamps "
                    "do not)"
                )
        if "_rv" in df.columns or "_rid" in df.columns:
            raise ValueError(
                "column names _rv/_rid are reserved for the store's "
                "row identity (merge-on-read deletes)"
            )
        if "__rows" in df.columns:
            raise ValueError(
                "column name __rows is reserved for the manifest's "
                "per-partition row counts (metadata aggregation)"
            )
        # Synthetic row identity for merge-on-read deletes (S27):
        # (_rv, _rid) is globally unique — _rv is this claimed
        # version (never reused, even across vacuum) and _rid is
        # unique within the write. Stored IN the files, so rewrites
        # that copy rows (redact) preserve identity and delete
        # entries keep matching, while rewrites that fold deletes
        # in (upsert/compact read via :meth:`read`) mint fresh ids
        # and retire the old entries naturally.
        out = (
            df.withColumn("v", F.lit(v))
            .withColumn("_rv", F.lit(v).cast("long"))
            .withColumn("_rid", F.monotonically_increasing_id())
        )
        do_cluster = (
            cluster if cluster is not None else self.distribution == "hash"
        )
        if do_cluster:
            # Cluster the write by the partition value (the 'hash'
            # distribution mode — see __init__): one AQE-rebalanced
            # exchange replaces the task×partition-value file fan-out
            # with ~one file per partition value, which is both the
            # write-side fixed-cost fix at fixture scale and the
            # small-files fix at 100 TB (guide: coalesce on write via
            # the REBALANCE hint; skewed values are split by AQE so a
            # hot partition still parallelizes).
            out = out.hint("rebalance", F.col(pc))
        if order_by:
            # The dynamic-partition writer requires rows sorted by the
            # partition columns and would insert its own (UNSTABLE)
            # sort otherwise, destroying any pre-applied clustering.
            # Sorting (pc, v, *order_by) here satisfies that
            # requirement as a prefix, so the writer keeps this exact
            # order and the files come out clustered on order_by.
            out = out.sortWithinPartitions(pc, "v", *order_by)
        with _no_partition_inference(df.sparkSession):
            out.write.mode("append").partitionBy(pc, "v").parquet(self.data)
        prefix = f"{pc}="
        return [
            _unescape_partition(d[len(prefix):])
            for d in os.listdir(self.data)
            if d.startswith(prefix)
            and os.path.isdir(os.path.join(self.data, d, f"v={v}"))
        ]

    def _pdir(self, val: str, pv: int, spec_col: str | None = None) -> str:
        """Physical leaf dir for (raw partition value, version) under
        ``spec_col`` (default: the store's ``__init__`` column)."""
        pc = spec_col if spec_col is not None else self.pc
        return os.path.join(
            self.data, f"{pc}={_escape_partition(val)}", f"v={pv}"
        )

    def _kdir(self, doc: dict, key: str, pv: int) -> str:
        """Physical leaf dir for a MANIFEST key in ``doc``'s format."""
        col, val = self._split_key(doc, key)
        return self._pdir(val, pv, spec_col=col)

    def _ddir(self, dv: int) -> str:
        """Physical dir of merge-on-read delete set ``dv`` (named by
        the version that produced it). Lives under the data dir —
        shared with branches, covered by vacuum — but the underscore
        prefix keeps it invisible to any directory-level scan."""
        return os.path.join(self.data, "_deletes", f"d={dv}")

    @staticmethod
    def _carry_deletes(
        prev_doc: dict, rewritten: set[str]
    ) -> list[dict] | None:
        """Delete entries a copy-on-write commit carries forward:
        the commit read through the deletes, so every partition it
        REWROTE has them folded into fresh files (fresh row ids) —
        entries are pruned to the partitions still served by
        inherited pointers and dropped entirely once none remain.
        Older manifests keep their own copies; this never mutates
        them.

        EQUALITY entries (S31, ``kind == "eq"``) are global — they
        record no touched-partition list, so a partial rewrite can
        never retire one. Carrying them stays correct without any
        bookkeeping because the filter is sequence-guarded: rewritten
        rows get the commit's fresh ``_rv``, which is ≥ the delete's
        id, so the carried entry no longer applies to them (their
        content already reflects the deletion — the rewrite read
        through it). Only a FULL-table rewrite drops eq entries
        (pure hygiene: with every row re-versioned the guard already
        makes them inert)."""
        full = rewritten >= set(prev_doc["partitions"])
        out = []
        for e in prev_doc.get("deletes", []):
            if e.get("kind") == "eq":
                if not full:
                    out.append(dict(e))
                continue
            live = [p for p in e["partitions"] if p not in rewritten]
            if live:
                carried = {"id": e["id"], "partitions": live}
                if "bytes" in e:  # keep the recorded on-disk size
                    carried["bytes"] = e["bytes"]
                out.append(carried)
        return out or None

    def _partition_stats(
        self, vals: list[str], v: int, spec_col: str | None = None
    ) -> dict[str, dict[str, list]]:
        """Per-partition min/max column bounds for the freshly written
        ``v=<v>`` dirs (Iceberg-style manifest stats, the data-skipping
        layer for predicates on NON-partition columns). Bounds come
        from the parquet FOOTERS the write already produced — a
        driver-side metadata read per file, zero Spark jobs, zero data
        scanned — exactly how Iceberg's committer collects them. Only
        exact numeric bounds are recorded: strings are skipped because
        parquet may truncate string min/max (a truncated max
        UNDERESTIMATES, which would prune live rows), and NaN-tainted
        float stats are skipped likewise. Bounds are UPPER bounds on
        content: redact rewrites do not re-tighten them, which keeps
        pruning conservative — a superset range can only fail to
        prune, never skip live rows."""
        import math

        import pyarrow.parquet as pq

        stats: dict[str, dict[str, list]] = {}
        for val in vals:
            d = self._pdir(val, v, spec_col=spec_col)
            mins: dict[str, float] = {}
            maxs: dict[str, float] = {}
            tainted: set[str] = set()
            nrows = 0
            for fn in sorted(os.listdir(d)):
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(d, fn)).metadata
                nrows += md.num_rows
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    for ci in range(rgm.num_columns):
                        col = rgm.column(ci)
                        name = col.path_in_schema
                        if "." in name:
                            continue  # nested leaves don't prune
                        if name in ("_rv", "_rid"):
                            continue  # hidden row identity — never queried
                        try:
                            st = col.statistics
                            if st is None or not st.has_min_max:
                                tainted.add(name)
                                continue
                            lo, hi = st.min, st.max
                        except Exception:
                            # pyarrow can't CAST stats for some
                            # physical types (decimal as fixed-len
                            # bytes raises from .statistics/.min
                            # itself); skip = never prune
                            tainted.add(name)
                            continue
                        if (
                            type(lo) not in (int, float)
                            or type(hi) not in (int, float)
                            or (isinstance(lo, float) and math.isnan(lo))
                            or (isinstance(hi, float) and math.isnan(hi))
                        ):
                            tainted.add(name)
                            continue
                        mins[name] = min(mins.get(name, lo), lo)
                        maxs[name] = max(maxs.get(name, hi), hi)
            stats[val] = {
                c: [mins[c], maxs[c]] for c in mins if c not in tainted
            }
            # S32: per-partition row count (Iceberg's record_count),
            # summed from the same footers — the manifest can answer
            # COUNT(*) with zero data reads. ``__rows`` is a reserved
            # name (_write refuses it as a user column).
            stats[val]["__rows"] = nrows
        return stats

    @staticmethod
    def _to_physical(df: DataFrame, colmap: dict[str, str] | None) -> DataFrame:
        """Rename LOGICAL columns to their stable PHYSICAL names
        before a data write (S28 schema evolution: physical names
        never change after first write — renames are metadata-only,
        added columns get version-suffixed physical names — so every
        data file in the store stays readable under one mapping)."""
        if not colmap:
            return df
        return df.select(
            *[F.col(c).alias(colmap.get(c, c)) for c in df.columns]
        )

    @staticmethod
    def _affected_values(changes: DataFrame, pc: str, op_col: str) -> list[str]:
        """Sorted partition values a change feed touches. The same
        collect validates the feed: an op outside 'I'/'U'/'D' raises
        (the rewrite treats every op but 'D' as an upsert and a NULL
        op as a delete, so a bad value would silently do one of the
        two), as does a NULL partition value."""
        rows = changes.select(pc, op_col).distinct().collect()
        bad = sorted({repr(r[1]) for r in rows if r[1] not in ("I", "U", "D")})
        if bad:
            raise ValueError(
                f"invalid change op {', '.join(bad)} in column {op_col!r}; "
                "expected 'I', 'U' or 'D'"
            )
        vals = {r[0] for r in rows}
        if None in vals:
            raise ValueError(
                f"NULL partition value in delta ({pc}); the snapshot "
                "store requires non-null partition values"
            )
        return sorted(str(v) for v in vals)

    def commit(self, df: DataFrame) -> int:
        """Full-snapshot commit (initial load or full rewrite). Not
        CAS-validated: a full commit replaces every pointer by intent,
        so concurrent full commits are last-writer-wins (incremental
        writers racing a full commit DO fail their CAS check). On an
        evolved table the SCHEMA epoch resets (``df``'s own schema is
        the new truth — colmap/defaults dropped by intent) but the
        PARTITION SPEC is table metadata, not row data: the write
        lands under the current spec, whose history collapses to a
        single entry because no old-spec pointer survives a full
        rewrite."""
        prev_doc = self._manifest_doc() if self.latest_version() else {}
        v = self._claim_version()
        pc, specs, wdf = None, None, df
        if "specs" in prev_doc:
            # epoch reset: physical names become df's logical names,
            # so the spec entry is re-keyed to the CURRENT logical
            # name(s) of the spec column / composite sources
            spec = self._doc_specs(prev_doc)[-1]
            if spec.get("fields"):
                new_spec = {
                    "col": spec["col"],
                    "since": 0,
                    "fields": [
                        {
                            "src": self._logical_of(prev_doc, f["src"]),
                            "t": f["t"],
                        }
                        for f in spec["fields"]
                    ],
                }
                pc = spec["col"]
                doc0 = {"schema": df.schema.json()}
                wdf = df.withColumn(
                    pc, self._spec_expr(doc0, new_spec, logical=False)
                )
            else:
                pc = self._logical_of(prev_doc, spec["col"])
                new_spec = {"col": pc, "since": 0}
            specs = [new_spec]
        written = self._write(wdf, v, spec_col=pc)
        q = f"{pc}=" if specs else ""  # spec-evolved keys are qualified
        return self._publish(
            v, {}, "commit",
            partitions={q + a: v for a in written},
            schema=df.schema.json(),
            stats={
                q + a: st
                for a, st in self._partition_stats(
                    written, v, spec_col=pc
                ).items()
            },
            specs=specs,
        )

    def upsert(
        self,
        spark: SparkSession,
        delta: DataFrame,
        key_cols: list[str],
        validate_keys: bool = False,
    ) -> int:
        """Replace-by-key merge producing a new snapshot: rows whose
        ``key_cols`` match a delta row are replaced, the rest of the
        delta is inserted. An upsert is :meth:`apply_changes` over a
        feed whose every op is 'U'; its copy-on-write,
        partition-immutability and spec-evolved merge-on-read
        contracts are documented there. ``validate_keys=True`` checks
        partition immutability first with a full-snapshot key join —
        O(|table|) per upsert, so it is opt-in — and raises instead of
        duplicating a key the delta moves to another partition."""
        # the op rides a column name the delta does not use (Spark
        # resolves names case-insensitively), so a data column named
        # 'op' or '__merge_op' stays data
        taken = {c.lower() for c in delta.columns}
        op_col = "__upsert_op"
        while op_col in taken:
            op_col = "_" + op_col
        feed = delta.withColumn(op_col, F.lit("U"))
        stage = self._stage_checked_upsert if validate_keys else self._stage_apply
        return self._commit("upsert", stage, spark, feed, key_cols, op_col)

    def _stage_checked_upsert(self, doc: dict, spark, feed, key_cols, op_col):
        # the check and the rewrite see the same rows and the same base:
        # pin the feed here (the apply stage leaves a pinned frame alone)
        with intermediates.scope():
            feed = intermediates.persist(feed, StorageLevel.MEMORY_AND_DISK)
            if doc["partitions"]:
                dl, pc_l = self._with_spec_col(feed, doc, logical=True)
                prev_df, _ = self._with_spec_col(
                    self._read_doc(spark, doc), doc, logical=True
                )
                moved = (
                    prev_df
                    .withColumnRenamed(pc_l, "_prev_pc")
                    .select(*key_cols, "_prev_pc")
                    .join(dl.select(*key_cols, pc_l).distinct(), key_cols)
                    .filter(
                        F.col("_prev_pc").cast("string")
                        != F.col(pc_l).cast("string")
                    )
                    .limit(1)
                    .collect()
                )
                if moved:
                    raise ValueError(
                        f"upsert moves key {[moved[0][k] for k in key_cols]} "
                        f"across partitions ({moved[0]['_prev_pc']!r} -> "
                        f"{moved[0][pc_l]!r}); partition values are "
                        "immutable per key"
                    )
            return self._stage_apply(doc, spark, feed, key_cols, op_col)

    def _write_position_deletes(self, matched: DataFrame, v: int) -> dict | None:
        """Write version ``v``'s position-delete file from ``matched``
        — ``(_pval, _rv, _rid)`` rows, ``_pval`` the raw manifest key
        of the row's partition — and return its manifest entry, or
        None when nothing matched (then no file is written). The
        matched set is pinned, so the touched-partition list and the
        file come from one scan."""
        with intermediates.scope():
            matched = intermediates.persist(matched, StorageLevel.MEMORY_AND_DISK)
            touched = sorted(
                r["_pval"] for r in matched.select("_pval").distinct().collect()
            )
            if not touched:
                return None
            ddir = self._ddir(v)
            with _no_partition_inference(matched.sparkSession):
                matched.coalesce(1).write.mode("overwrite").parquet(ddir)
        return {
            "id": v,
            "partitions": touched,
            # recorded once at write time: readers use it for the
            # broadcast-threshold decision with zero per-read I/O
            "bytes": self._delete_bytes([ddir]),
        }

    def _retire_old_spec_rows(
        self,
        spark: SparkSession,
        prev_doc: dict,
        keys: DataFrame,
        key_cols: list[str],
        v: int,
    ) -> dict | None:
        """S30 merge-on-read retirement for :meth:`apply_changes` on a
        spec-evolved table: rows in OLD-spec partitions whose
        ``key_cols`` match the incoming feed are recorded in a
        position-delete file (as :meth:`delete_where` does) — they
        cannot be rewritten in place because their rows would
        redistribute into current-spec directories and collide with
        pointers this write inherits. Returns the delete entry to
        append, or None (no old-spec partitions, or no matches)."""
        cur = self._cur_spec(prev_doc)
        old_keys = [
            k
            for k in prev_doc["partitions"]
            if self._split_key(prev_doc, k)[0] != cur
        ]
        if not old_keys:
            return None
        # Range-prune the un-migrated scan with the manifest stats
        # (S20): for a single numeric key column, old-spec partitions
        # whose stored [min,max] bounds cannot contain any delta key
        # are skipped before Spark lists a file — the per-upsert cost
        # on a mostly-migrated table drops toward zero. Multi-column
        # keys / non-numeric bounds just scan (prune-or-scan is always
        # exact: bounds are conservative supersets).
        where = None
        if len(key_cols) == 1:
            b = keys.agg(
                F.min(key_cols[0]).alias("lo"),
                F.max(key_cols[0]).alias("hi"),
            ).first()
            if b["lo"] is not None:
                where = (key_cols[0], b["lo"], b["hi"])
        # reads disable partition-type inference for their own scans
        # (the _pkey strings below round-trip the raw manifest keys)
        matched = (
            self._read_doc(
                spark,
                prev_doc,
                partition_values=old_keys,
                where=where,
                keep_hidden=True,
                with_pkey=True,
            )
            .join(F.broadcast(keys), key_cols, "left_semi")
            .select(F.col("_pkey").alias("_pval"), "_rv", "_rid")
        )
        return self._write_position_deletes(matched, v)

    def apply_changes(
        self,
        spark: SparkSession,
        changes: DataFrame,
        key_cols: list[str],
        op_col: str = "op",
    ) -> int:
        """CDC apply: merge a change feed carrying an op column
        ('I'/'U' upsert, 'D' delete) into a new snapshot. This is the
        store's one copy-on-write rewrite: :meth:`upsert` and
        :meth:`merge` reduce to it. Rows whose keys match ANY change
        row are removed from the affected partitions; non-delete
        change rows are then re-inserted — i.e. I/U are last-writer
        upserts and D is a tombstone-free hard delete (the row simply
        doesn't appear in the new version; prior versions still serve
        it, which IS the retention story). Any other op value, NULL
        included, raises ``ValueError``. Only partitions the feed
        touches are rewritten; everything else is inherited by
        manifest pointer. Change rows must carry the partition column:
        deletes prune to their partition like any other change, so a
        feed touching k partitions rewrites exactly k partitions. A
        feed that deletes EVERY remaining row of a partition empties
        it: the write produces no ``v=<N>`` directory for it, and the
        new manifest simply drops the partition (it reads as zero rows
        from this version on — no dangling pointer).

        INVARIANT — partition immutability: a key lives in one
        partition for its lifetime. The anti-join that retires old row
        versions only scans the partitions the feed names, so a change
        row that moves an existing key to a DIFFERENT partition value
        would leave the old copy in place and duplicate the key across
        two partitions (the same contract Hive-style partitioned
        MERGE has). ``upsert(validate_keys=True)`` detects moves and
        raises instead.

        SPEC-EVOLVED tables (S30): partitions still under an OLD spec
        cannot be partition-pruned by the feed's current-spec values,
        and rewriting one in place would redistribute its rows into
        current-spec directories that collide with inherited pointers.
        Rows there whose keys match any change row ('D' rows included)
        are retired through a MERGE-ON-READ delete entry instead (one
        scan of the un-migrated partitions, a KB-scale delete file, no
        rewrite) — the Iceberg merge-on-read MERGE shape. The scan cost
        shrinks to zero as :meth:`compact` migrates the table to the
        current spec."""
        return self._commit(
            "cdc", self._stage_apply, spark, changes, key_cols, op_col
        )

    def _stage_apply(self, doc: dict, spark, changes, key_cols, op_col):
        v = self._claim_version()
        # Pin the feed: the affected-values collect, the anti-join key
        # set, the write and (spec-evolved) the merge-on-read key probe
        # would each re-run the caller's upstream plan.
        with intermediates.scope():
            changes = intermediates.persist(
                changes, StorageLevel.MEMORY_AND_DISK
            )
            prev = doc["partitions"]
            cur_spec = self._doc_specs(doc)[-1]
            cur = cur_spec["col"]
            # S30b: under a composite spec the partition value is DERIVED
            # (one string column computed from the spec's source fields) —
            # the feed gains it here for affected-value discovery, and
            # the physical write frame gains it again below from physical
            # names. Single-column specs pass through unchanged.
            ch, pc_l = self._with_spec_col(changes, doc, logical=True)
            affected = self._affected_values(ch, pc_l, op_col)
            affected_keys = {self._mk_key(doc, cur, a) for a in affected}
            existing = self._read_doc(
                spark,
                doc,
                partition_values=sorted(k for k in affected_keys if k in prev),
            )
            keys = changes.select(*key_cols).distinct()
            keep = existing.join(keys, key_cols, "left_anti")
            upserts = changes.filter(F.col(op_col) != "D").drop(op_col)
            merged = keep.unionByName(upserts)
            cm = doc.get("colmap")
            wdf = self._to_physical(merged, cm)
            if cur_spec.get("fields"):
                wdf = wdf.withColumn(
                    cur, self._spec_expr(doc, cur_spec, logical=False)
                )
            written = self._write(wdf, v, spec_col=cur)
            manifest = {
                k: pv for k, pv in prev.items() if k not in affected_keys
            }
            manifest.update({self._mk_key(doc, cur, a): v for a in written})
            deletes = self._carry_deletes(doc, affected_keys) or []
            mor = self._retire_old_spec_rows(spark, doc, keys, key_cols, v)
            if mor:
                deletes.append(mor)
            return v, dict(
                partitions=manifest,
                schema=merged.schema.json(),
                stats=self._inherit_stats(doc, manifest, written, v),
                deletes=deletes,
            )

    def rollback(self, version: int) -> int:
        """S34: roll the table back to ``version`` — Iceberg's
        ``rollback_to_snapshot``: publishes a NEW version whose
        manifest is a copy of the target's (pointers, schema, colmap,
        defaults, specs, delete entries — the full read state), so
        the bad commits stay in history (auditable, time-travelable)
        while the table's head content is restored. METADATA-ONLY:
        one JSON write, zero data touched — undoing a botched
        million-row write on a 100 TB table costs the same as on a
        100-row one. CAS-published against the current head like any
        commit, so a racing writer fails loudly rather than being
        silently undone. The target must still be readable (not
        expired by vacuum — resolving it raises otherwise)."""
        return self._commit("rollback", self._stage_rollback, version)

    def _stage_rollback(self, doc: dict, version: int):
        if version == doc["version"]:
            raise ValueError(f"already at v{version}")
        target = self._manifest_doc(version)  # raises if expired/unknown
        # every table-state key becomes the target's (None removes one
        # the target lacks)
        return self._claim_version(), {
            k: target.get(k) for k in self._TABLE_STATE_KEYS
        }

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        matched_update_cond: str | None = None,
        matched_delete_cond: str | None = None,
        not_matched_insert_cond: str | None = None,
        not_matched_by_source_delete: "bool | str" = False,
        not_matched_by_source_update_set: dict[str, str] | None = None,
        not_matched_by_source_update_cond: str | None = None,
    ) -> int:
        """S33: MERGE INTO — the Delta/Iceberg writer verb
        (``WHEN MATCHED [AND cond] THEN UPDATE / DELETE, WHEN NOT
        MATCHED [AND cond] THEN INSERT``) expressed as ONE
        source-target join that derives a CDC feed and stages it as
        :meth:`apply_changes` does (so partition-scoped copy-on-write,
        schema/spec evolution, old-spec retirement, stats inheritance
        and CAS publish are all inherited, not re-implemented).

        Conditions are SQL strings over ``s.<col>`` (source image) and
        ``t.<col>`` (current target image); ``None`` means
        unconditional (update every matched row, delete none, insert
        every unmatched source row). Clause order is Delta's: a
        matched row is tested against DELETE first, then UPDATE; a
        matched row passing neither clause is left untouched — and
        costs nothing, because it never enters the feed, so its
        partition is only rewritten if some OTHER feed row touches it.
        Updates write the full source image (UPDATE SET * semantics).

        The join is source-LEFT-target: target rows with no source
        match are untouched by definition and never scanned into the
        join's right side beyond the manifest-pruned read. Multiple
        source rows for one key are REFUSED (Delta's 'multiple source
        rows matched' error): last-writer-wins here would be
        nondeterministic under shuffle order, which would poison both
        the certification hash and any replay.

        WHEN NOT MATCHED BY SOURCE (Delta 2.3+/ANSI full-sync
        clauses): ``not_matched_by_source_delete`` is ``True``
        (unconditional) or a SQL condition string; target rows whose
        key is absent from the source are deleted when it holds.
        ``not_matched_by_source_update_set`` is a ``{col: sql_expr}``
        dict (UPDATE SET semantics) applied — under the optional
        ``not_matched_by_source_update_cond`` — to source-missing
        target rows the delete clause did not take (delete is tested
        first, matching the matched-side clause order). Both clause
        conditions and set expressions may reference only ``t.<col>``
        (there is no source image by definition; ``s.*`` is all-NULL
        there, so a condition touching it evaluates NULL = no-match).
        Set expressions are cast back to the target column's type, and
        may not assign key columns or any spec-protected column
        (partition values are immutable per key — same rule as
        upsert). Scale note: any NMBS clause turns the join FULL-outer
        — the clause's semantics inspect every target row, so the cost
        bound is target-scale, not delta-scale; that is inherent to
        the verb (Delta's docs carry the same warning), and partition
        rewrite cost is still ∝ partitions the feed touches."""
        return self._commit(
            "merge", self._stage_merge, spark, source, key_cols,
            matched_update_cond, matched_delete_cond,
            not_matched_insert_cond, not_matched_by_source_delete,
            not_matched_by_source_update_set,
            not_matched_by_source_update_cond,
        )

    def _stage_merge(
        self, doc, spark, source, key_cols, matched_update_cond,
        matched_delete_cond, not_matched_insert_cond,
        not_matched_by_source_delete, not_matched_by_source_update_set,
        not_matched_by_source_update_cond,
    ):
        nmbs_set = not_matched_by_source_update_set
        nmbs = bool(not_matched_by_source_delete) or nmbs_set is not None
        if nmbs_set is not None and not nmbs_set:
            # an empty SET dict would still widen the join to
            # full-outer and feed every source-missing target row as
            # a no-op U — a silent full-table rewrite of an identical
            # table. Refuse before any version claim.
            raise ValueError(
                "NOT MATCHED BY SOURCE UPDATE SET is empty; pass "
                "column expressions or omit the clause"
            )
        if not_matched_by_source_update_cond is not None and nmbs_set is None:
            raise ValueError(
                "not_matched_by_source_update_cond without "
                "not_matched_by_source_update_set would be silently "
                "ignored; pass the SET dict or drop the condition"
            )
        if nmbs_set:
            protected = {
                self._logical_of(doc, p)
                for p in self._spec_protected_cols(doc)
            }
            bad = set(nmbs_set) & (set(key_cols) | protected)
            if bad:
                raise ValueError(
                    "NOT MATCHED BY SOURCE UPDATE SET may not assign "
                    f"key or partition-spec columns: {sorted(bad)}"
                )
            unknown = set(nmbs_set) - set(source.columns)
            if unknown:
                raise ValueError(
                    f"UPDATE SET targets unknown columns: {sorted(unknown)}"
                )
        # Pin ONE materialization of the source before anything reads
        # it twice: the dup check below and the clause join/feed are
        # separate actions, and a non-deterministic source (sampled,
        # rand()-derived, re-shuffled) could pass the check yet emit
        # duplicate keys into the feed — silently poisoning exactly
        # the determinism the check exists to protect. localCheckpoint
        # truncates lineage, so both reads see the same rows; merge
        # sources are delta-scale, so materializing is cheap. The
        # checkpoint is released when the merge returns or raises.
        with intermediates.scope():
            source = intermediates.checkpoint(source, eager=True)
            dup = (
                source.groupBy(*key_cols)
                # counting literal 1 under a reserved alias — .count()
                # would collide with a source column literally named
                # 'count' and break the filter below
                .agg(F.count(F.lit(1)).alias("__k_count"))
                .filter(F.col("__k_count") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "multiple source rows matched the same key; "
                    "pre-aggregate the source to one row per key"
                )
            cols = source.columns
            tgt = self._read_doc(spark, doc)
            s = source.select(
                *[F.col(c).alias(f"__s_{c}") for c in cols],
                F.lit(True).alias("__s_present"),
            )
            t = tgt.select(
                *[F.col(c).alias(f"__t_{c}") for c in cols],
                F.lit(True).alias("__t_present"),
            )
            cond = None
            for k in key_cols:
                c = F.col(f"__s_{k}") == F.col(f"__t_{k}")
                cond = c if cond is None else (cond & c)
            # an NMBS clause must SEE source-missing target rows, so the
            # join widens to full-outer; without one the left join keeps
            # the delta-scale bound (unmatched target rows never leave the
            # manifest-pruned scan)
            j = s.join(t, cond, "full_outer" if nmbs else "left_outer")
            # expose s.* / t.* for the user's clause conditions
            j = j.select(
                "*",
                F.struct(
                    *[F.col(f"__s_{c}").alias(c) for c in cols]
                ).alias("s"),
                F.struct(
                    *[F.col(f"__t_{c}").alias(c) for c in cols]
                ).alias("t"),
            )
            t_present = F.col("__t_present").isNotNull()
            s_present = F.col("__s_present").isNotNull()
            matched = s_present & t_present
            delete_c = (
                F.expr(matched_delete_cond)
                if matched_delete_cond is not None
                else F.lit(False)
            )
            update_c = (
                F.expr(matched_update_cond)
                if matched_update_cond is not None
                else F.lit(True)
            )
            insert_c = (
                F.expr(not_matched_insert_cond)
                if not_matched_insert_cond is not None
                else F.lit(True)
            )
            nmbs_delete_c = (
                F.lit(True)
                if not_matched_by_source_delete is True
                else F.expr(not_matched_by_source_delete)
                if not_matched_by_source_delete
                else F.lit(False)
            )
            nmbs_update_c = (
                F.lit(False)
                if nmbs_set is None
                else F.expr(not_matched_by_source_update_cond)
                if not_matched_by_source_update_cond is not None
                else F.lit(True)
            )
            # 'S' is an internal marker for a source-missing UPDATE: it
            # needs the TARGET image with the SET expressions applied —
            # neither the D branch (plain target image) nor the default
            # branch (source image, all-NULL here) — and is folded back
            # to 'U' once the image is built.
            op = (
                F.when(matched & delete_c, F.lit("D"))
                .when(matched & update_c, F.lit("U"))
                .when(~t_present & s_present & insert_c, F.lit("I"))
                .when(t_present & ~s_present & nmbs_delete_c, F.lit("D"))
                .when(t_present & ~s_present & nmbs_update_c, F.lit("S"))
            )
            # the CDC op rides a RESERVED name — a source column literally
            # named 'op' would otherwise collide with the feed's op column
            # and make every reference ambiguous (the same hazard the
            # dup-check guards for 'count')
            t_types = dict(tgt.dtypes)

            def _img(c: str):
                timg = F.col(f"__t_{c}")
                simg = F.col(f"__s_{c}")
                if nmbs_set and c in nmbs_set:
                    # cast back to the target column's type: a SET
                    # expression must not silently widen the column (the
                    # union with kept rows would otherwise diverge by
                    # shuffle order of whichever image unionByName saw
                    # first)
                    uimg = F.expr(nmbs_set[c]).cast(t_types[c])
                else:
                    uimg = timg
                return (
                    F.when(F.col("__merge_op") == "D", timg)
                    .when(F.col("__merge_op") == "S", uimg)
                    .otherwise(simg)
                    .alias(c)
                )

            feed = (
                j.withColumn("__merge_op", op)
                .filter(F.col("__merge_op").isNotNull())
                # D rows carry the TARGET image (it holds the live
                # partition value apply_changes prunes by); S rows the
                # target image with SET applied; I/U the source image
                .select(
                    F.when(F.col("__merge_op") == "S", F.lit("U"))
                    .otherwise(F.col("__merge_op"))
                    .alias("__merge_op"),
                    *[_img(c) for c in cols],
                )
            )
            # the feed's clause decisions were evaluated against the
            # base's rows, so the apply stages on that same base: a
            # racer publishing in between fails the commit loudly
            return self._stage_apply(doc, spark, feed, key_cols, "__merge_op")

    def delete_where(self, spark: SparkSession, condition) -> int:
        """Merge-on-read row delete (S27 — Iceberg v2 position
        deletes / Delta deletion vectors, re-expressed on the
        synthetic row identity): rows of the LATEST version matching
        ``condition`` (a Column or SQL string) are recorded in a
        small delete file of (``_rv``, ``_rid``) pairs and a new
        version is published whose partition POINTERS are an
        unchanged copy of the base — no data file is rewritten, so a
        delete of 100 rows from a 100 TB table costs one filtered
        scan plus a KB-scale write, instead of rewriting every hit
        partition the way copy-on-write :meth:`apply_changes` 'D'
        rows do. Readers of the new version anti-join the delete set
        (see :meth:`read`); prior versions still serve the rows
        (time travel intact); a later :meth:`compact` folds deletes
        into the data and retires the entries.

        The manifest entry records the partitions the delete touches,
        which keeps the changelog's identical-pointer prune honest
        (a MOR delete changes content without changing pointers) and
        lets copy-on-write commits prune inert entries. CAS-published
        against the base version like any incremental write. Returns
        the new version; matching zero rows still publishes (a
        deterministic no-op version with the base's delete list)."""
        if isinstance(condition, str):
            condition = F.expr(condition)
        return self._commit(
            "delete", self._stage_delete_where, spark, condition
        )

    def _stage_delete_where(self, doc: dict, spark, condition):
        v = self._claim_version()
        # the read scans with partition-type inference off, so _pkey
        # is the raw directory string — exactly the manifest key the
        # changelog's MOR prune matches (r9 ADVICE) — and a typed user
        # ``condition`` on it still works (Spark casts the comparison)
        matched = (
            self._read_doc(spark, doc, keep_hidden=True, with_pkey=True)
            .filter(condition)
            .select(F.col("_pkey").alias("_pval"), "_rv", "_rid")
        )
        deletes = doc.get("deletes", [])
        entry = self._write_position_deletes(matched, v)
        return v, dict(deletes=[*deletes, entry] if entry else deletes)

    def delete_keys(self, spark: SparkSession, col: str, keys) -> int:
        """Merge-on-read EQUALITY delete (S31 — Iceberg v2 equality
        delete files, the second of Iceberg's two delete-file forms):
        record a set of key VALUES for logical column ``col``; every
        row whose key matches is gone from this version on. Unlike
        :meth:`delete_where` (position deletes), publishing costs
        ZERO data scans — the only work is writing the key set
        (``keys``: a python list or a one-column DataFrame) and one
        manifest — so deleting 10M doc ids from a 100 TB table is an
        O(|keys|) operation, not a table scan. The trade moves to
        read time: readers anti-join the key set (broadcast under the
        same byte threshold as position deletes), and a
        :meth:`compact` folds it in and retires the entry.

        SEQUENCE SEMANTICS (Iceberg's): the delete applies only to
        rows written BEFORE it — the anti-join is guarded by
        ``_rv < delete id``, with ``_rv`` the row's stored write
        version. A row re-inserted with the same key AFTER the delete
        survives, exactly as Iceberg scopes equality deletes to data
        files with a smaller sequence number. The same guard makes
        every later copy-on-write commit automatically exempt its
        rewritten rows (they carry the fresh ``_rv``), so the entry
        stays correct under upsert/CDC/partial-compact with no
        partition bookkeeping at all — which is also why the entry is
        GLOBAL (no touched-partition list; the changelog's
        identical-pointer prune is disabled across the delete until a
        compact retires it).

        The key set is stored under the key column's PHYSICAL name
        (the rename-stable identity, standing in for Iceberg's field
        ids) at the column's current logical type; readers cast it to
        the scan's physical type, so later :meth:`widen_column` calls
        compose (widening is lossless). :meth:`drop_column` refuses
        while an eq entry references the column — dropped physical
        columns leave the read schema, which would silently disarm
        the filter and resurrect the rows; compact first."""
        return self._commit(
            "eq-delete", self._stage_delete_keys, spark, col, keys
        )

    def _stage_delete_keys(self, doc: dict, spark, col: str, keys):
        if doc.get("schema") is None:
            raise ValueError("equality deletes need a manifest schema")
        schema = StructType.fromJson(json.loads(doc["schema"]))
        names = {f.name: f for f in schema.fields}
        if col not in names:
            raise ValueError(f"no such column: {col!r}")
        cm = doc.get("colmap") or {}
        phys = cm.get(col, col)
        if isinstance(keys, DataFrame):
            if len(keys.columns) != 1:
                raise ValueError("keys frame must have exactly one column")
            kc = F.col(keys.columns[0])
            # Strict cast: a lenient cast turns unconvertible values
            # into NULL (and ANSI mode throws an opaque runtime error
            # mid-job), and a NULL key never matches the read-side
            # anti-join — a mistyped key set would become a silent
            # partial no-op delete. try_cast + an explicit refusal
            # mirrors the strictness of the rest of the write path in
            # both ANSI and legacy modes.
            bad = (
                keys.filter(
                    kc.isNotNull()
                    & kc.try_cast(names[col].dataType).isNull()
                )
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"delete key set does not cast cleanly to {col!r}'s "
                    f"type {names[col].dataType.simpleString()}: at least "
                    "one non-null key became NULL under the cast (it "
                    "would silently never match any row)"
                )
            if keys.filter(kc.isNull()).limit(1).count():
                raise ValueError(
                    "NULL equality-delete keys never match (the "
                    "anti-join condition is null-valued); use "
                    f"delete_where(spark, '{col} IS NULL') instead"
                )
            kdf = keys.select(
                kc.try_cast(names[col].dataType).alias(phys)
            ).distinct()
        else:
            if any(k is None for k in keys):
                raise ValueError(
                    "NULL equality-delete keys never match (the "
                    "anti-join condition is null-valued); use "
                    f"delete_where(spark, '{col} IS NULL') instead"
                )
            kdf = spark.createDataFrame(
                [(k,) for k in keys],
                StructType([StructField(phys, names[col].dataType, True)]),
            ).distinct()
        v = self._claim_version()
        ddir = self._ddir(v)
        with _no_partition_inference(spark):  # see _write
            kdf.coalesce(1).write.mode("overwrite").parquet(ddir)
        deletes = doc.get("deletes", [])
        if self._dir_rows(ddir) > 0:
            deletes = [*deletes, {
                "id": v,
                "kind": "eq",
                "col": phys,
                "bytes": self._delete_bytes([ddir]),
            }]
        else:
            # zero keys: publish a deterministic no-op version (the
            # delete_where zero-match contract) instead of an entry
            # every future read would anti-join against forever
            import shutil

            shutil.rmtree(ddir, ignore_errors=True)
        return v, dict(deletes=deletes)

    def compact(
        self,
        spark: SparkSession,
        partition_values: list[str] | None = None,
        order_by: list[str] | None = None,
    ) -> int:
        """Small-file compaction rewrite (Iceberg's
        ``rewrite_data_files``): re-materialize the latest version's
        named partitions (default: all) as a NEW commit whose logical
        content is byte-identical — the maintenance op every
        long-lived upsert/CDC table needs, because each incremental
        commit writes its delta partitions with whatever file count
        the shuffle produced, and a hot partition accumulates one
        pointer rewrite per touch.

        One manifest-pruned read of the target partitions, one hash
        repartition on the partition column (every partition's rows
        land in a single task → ONE file per compacted directory),
        one partitioned write. Untouched partitions are inherited by
        pointer, stats are recomputed from the new footers for the
        rewritten partitions and inherited elsewhere, and the publish
        is CAS-validated against the base version — a writer racing
        the compaction fails loudly instead of losing its commit
        (wrap in :func:`with_commit_retries` like any incremental
        write). Prior versions still reference the old directories,
        so time travel is unaffected until a vacuum expires them.
        Returns the new version.

        ``order_by`` additionally sorts rows within each rewritten
        file (Iceberg's sort-order rewrite): a table accreted by
        unordered upserts gets its rows re-clustered on the named
        columns, which re-tightens the per-file footer bounds the
        manifest-stat pruning layer (S20) reads — bounded reads skip
        more after an ordered compaction. Logical content is
        unchanged either way."""
        return self._commit(
            "compact", self._stage_compact, spark, partition_values, order_by
        )

    def _stage_compact(self, doc: dict, spark, partition_values, order_by):
        prev = doc["partitions"]
        cur = self._cur_spec(doc)
        if partition_values is None:
            vals = sorted(prev)
        else:
            vals = sorted(str(x) for x in partition_values if str(x) in prev)
        if not vals:
            raise ValueError(
                "no named partition exists in the latest version"
            )
        # S30: compacting an OLD-spec partition redistributes its rows
        # into current-spec directories — the MIGRATION op (Iceberg's
        # rewrite_data_files to latest spec). That is only
        # collision-free when no current-spec pointer survives
        # outside the rewrite set, so a migrating compaction must be
        # full-table; current-spec-only subsets stay per-partition.
        old_targets = [
            k for k in vals if self._split_key(doc, k)[0] != cur
        ]
        if old_targets and set(vals) != set(prev):
            raise ValueError(
                "compacting old-spec partitions migrates their rows "
                "to the current spec; run a FULL-table compact "
                "(omit partition_values) so rewritten rows cannot "
                "collide with inherited pointers"
            )
        v = self._claim_version()
        df = self._read_doc(spark, doc, partition_values=vals)
        cm = doc.get("colmap")
        # S30b: composite specs compact/migrate by the DERIVED value —
        # computed on the logical read, untouched by _to_physical (the
        # synthetic name is in no colmap), consumed by partitionBy
        rdf, pcn = self._with_spec_col(df, doc, logical=True)
        packed = self._to_physical(
            rdf.repartition(len(vals), F.col(pcn)), cm
        )
        # cluster=False: the explicit repartition above already placed
        # every partition's rows in a single task (the ONE-file-per-
        # compacted-directory contract); a rebalance on top would just
        # re-shuffle the same rows a second time.
        written = self._write(
            packed, v, order_by=order_by, spec_col=cur, cluster=False
        )
        manifest = {k: pv for k, pv in prev.items() if k not in set(vals)}
        manifest.update({self._mk_key(doc, cur, a): v for a in written})
        # prune spec-history entries this manifest no longer points
        # through (a full migration compact leaves only the current
        # spec; the freed old column becomes droppable again)
        used = {self._split_key(doc, k)[0] for k in manifest}
        specs = doc.get("specs", [])
        return v, dict(
            partitions=manifest,
            schema=doc.get("schema") or df.schema.json(),
            stats=self._inherit_stats(doc, manifest, written, v),
            deletes=self._carry_deletes(doc, set(vals)),
            specs=[s for s in specs[:-1] if s["col"] in used] + specs[-1:],
        )

    def _deletes_total_bytes(self, dels: list[dict]) -> int:
        """Total on-disk bytes of a version's delete entries: the
        manifest-recorded size when present (written by delete_where),
        else a cached directory walk (delete files are immutable)."""
        total = 0
        for e in dels:
            if "bytes" in e:
                total += e["bytes"]
                continue
            d = self._ddir(e["id"])
            if d not in self._dbytes_cache:
                self._dbytes_cache[d] = self._delete_bytes([d])
            total += self._dbytes_cache[d]
        return total

    @staticmethod
    def _delete_bytes(ddirs: list[str]) -> int:
        total = 0
        for d in ddirs:
            for root_, _, files in os.walk(d):
                total += sum(
                    os.path.getsize(os.path.join(root_, f))
                    for f in files
                    if f.endswith(".parquet")
                )
        return total

    @staticmethod
    def _dir_rows(d: str) -> int:
        """Row count of one physical dir from parquet FOOTERS — a
        driver-side metadata read, zero Spark jobs, zero data bytes."""
        import pyarrow.parquet as pq

        total = 0
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(d, fn)).metadata.num_rows
        return total

    def count_rows(self, version: int | None = None) -> int:
        """S32: COUNT(*) answered from the MANIFEST — zero Spark jobs,
        zero data files opened (Iceberg's metadata-table count /
        aggregate pushdown). Sums the per-partition ``__rows`` counts
        the committer recorded from parquet footers at write time
        (falling back to a driver-side footer read for pre-S32
        manifests). REFUSED while merge-on-read delete entries are
        pending: the manifest count ignores the anti-join, so it
        would overcount — exactly why Iceberg disables metadata
        aggregation when delete files exist. :meth:`compact` folds
        the deletes and restores the fast path."""
        doc = self._manifest_doc(version)
        if doc.get("deletes"):
            raise ValueError(
                "merge-on-read deletes pending: a manifest count "
                "would overcount — compact first (or scan via read())"
            )
        st = doc.get("stats") or {}
        total = 0
        for key, pv in doc["partitions"].items():
            n = st.get(key, {}).get("__rows")
            if n is None:
                col, val = self._split_key(doc, key)
                n = self._dir_rows(self._pdir(val, pv, spec_col=col))
            total += n
        return total

    def stats_agg(
        self,
        spark: SparkSession,
        cols: list[str],
        version: int | None = None,
    ) -> DataFrame:
        """S32: per-partition aggregation pushdown into the MANIFEST —
        ``(partition, n_rows, <col>_min, <col>_max, ...)`` for the
        named LOGICAL columns, answered entirely from manifest stats
        (committer-recorded footer bounds + row counts): zero Spark
        jobs against the data, zero files opened. This is the
        dashboard/partition-health query every 100 TB table serves
        constantly — row counts and value ranges per day — for which
        a full scan is three orders of magnitude too much I/O.

        Exactness contract: row counts are exact (refused while MOR
        deletes are pending, same rule as :meth:`count_rows`; redact
        refreshes counts for the dirs it rewrites). Min/max are exact
        as written but survive redact only as SUPERSETS — the same
        conservative semantics the data-skipping reader (S20) relies
        on — so a bound is a true bound, not necessarily attained.
        Columns without recorded bounds (strings — parquet may
        truncate their stats — or NaN-tainted floats) return NULL.
        Logical names resolve through the colmap; bounds live under
        physical names."""
        doc = self._manifest_doc(version)
        if doc.get("deletes"):
            raise ValueError(
                "merge-on-read deletes pending: manifest stats "
                "would overcount — compact first (or scan via read())"
            )
        cm = doc.get("colmap") or {}
        st = doc.get("stats") or {}
        rows = []
        for key in sorted(doc["partitions"]):
            pv = doc["partitions"][key]
            pst = st.get(key, {})
            n = pst.get("__rows")
            if n is None:
                col, val = self._split_key(doc, key)
                n = self._dir_rows(self._pdir(val, pv, spec_col=col))
            rec = [key, int(n)]
            for c in cols:
                b = pst.get(cm.get(c, c))
                rec += [None, None] if b is None else [b[0], b[1]]
            rows.append(tuple(rec))
        # Explicit result schema — a column with no recorded bounds in
        # ANY partition (strings, NaN-tainted floats: exactly the
        # documented return-NULL cases) yields an all-None pair, which
        # type inference cannot resolve (CANNOT_DETERMINE_TYPE). Bound
        # values are only ever int or float (_collect_stats skips
        # everything else): LONG when every recorded value is an int,
        # DOUBLE otherwise (incl. the int/float mix a widen_column
        # leaves across epochs, and the all-None case).
        fields = [
            StructField("partition", StringType(), False),
            StructField("n_rows", LongType(), False),
        ]
        for ci in range(len(cols)):
            vals = [x for r in rows for x in r[2 + 2 * ci:4 + 2 * ci]
                    if x is not None]
            is_long = bool(vals) and all(type(x) is int for x in vals)
            t = LongType() if is_long else DoubleType()
            fields += [
                StructField(f"{cols[ci]}_min", t, True),
                StructField(f"{cols[ci]}_max", t, True),
            ]
            if not is_long:
                rows = [
                    r[:2 + 2 * ci]
                    + tuple(None if x is None else float(x)
                            for x in r[2 + 2 * ci:4 + 2 * ci])
                    + r[4 + 2 * ci:]
                    for r in rows
                ]
        return spark.createDataFrame(rows, StructType(fields))

    def history(self) -> list[dict]:
        """S35: the table's operation log (Iceberg's ``history`` /
        snapshots metadata table): one entry per published version —
        version, commit timestamp, the OPERATION that produced it
        (commit / upsert / cdc / merge / delete / eq-delete / compact
        / respec / add-column / rename-column / drop-column /
        widen-column / rollback / branch-fork / branch-merge), the
        pointer count, pending delete-entry count, and the exact
        manifest row count where the manifest can answer it (None
        while MOR deletes are pending — the :meth:`count_rows` rule).
        Driver-side manifest reads only: the audit view of a 100 TB
        table costs zero data I/O. Versions expired by vacuum drop
        out (their manifests are gone); claims are never reused, so
        the version column still orders the full life of the table."""
        out = []
        for v in self._published_versions():
            doc = self._manifest_doc(v)
            dels = doc.get("deletes", [])
            st = doc.get("stats") or {}
            n_rows: int | None = None
            if not dels:
                counts = [
                    st.get(key, {}).get("__rows")
                    for key in doc["partitions"]
                ]
                if all(c is not None for c in counts):
                    n_rows = int(sum(counts))
            out.append({
                "version": v,
                "committed_at": doc.get("committed_at"),
                # pre-S35 manifests recorded no op; surfacing them as
                # 'unknown' (not 'commit') keeps the audit log honest —
                # a recorded operation is a fact, a missing one is not
                "operation": doc.get("op", "unknown"),
                "n_partitions": len(doc["partitions"]),
                "n_delete_entries": len(dels),
                "n_rows": n_rows,
            })
        return out

    def history_df(self, spark: SparkSession) -> DataFrame:
        """The :meth:`history` log as a DataFrame (the queryable
        metadata-table form — join it, filter it, feed dashboards)."""
        schema = StructType([
            StructField("version", LongType()),
            StructField("committed_at", DoubleType()),
            StructField("operation", StringType()),
            StructField("n_partitions", LongType()),
            StructField("n_delete_entries", LongType()),
            StructField("n_rows", LongType()),
        ])
        return spark.createDataFrame(
            [
                (
                    e["version"],
                    e["committed_at"],
                    e["operation"],
                    e["n_partitions"],
                    e["n_delete_entries"],
                    e["n_rows"],
                )
                for e in self.history()
            ],
            schema,
        )

    def pending_deletes(self, version: int | None = None) -> dict:
        """Compaction-pressure report for a version's accumulated
        merge-on-read delete sets (r9 verdict item 10): entry count,
        on-disk bytes, and whether reads have already fallen back from
        the broadcast anti-join to a plain one
        (``BROADCAST_DELETES_MAX_BYTES``). A truthy
        ``exceeds_broadcast`` is the operational signal to run
        :meth:`compact`, which folds the deletes in and clears the
        entries."""
        dels = self._manifest_doc(version).get("deletes", [])
        b = self._deletes_total_bytes(dels)
        return {
            "n_entries": len(dels),
            "bytes": b,
            "exceeds_broadcast": b > self.BROADCAST_DELETES_MAX_BYTES,
        }

    def pending_spec_migration(self, version: int | None = None) -> dict:
        """Migration-pressure report for a spec-evolved table (S30 —
        the :meth:`pending_deletes` twin): how many of a version's
        partition pointers still live under a retired spec. Un-migrated
        pointers cost every read an extra per-spec scan group and every
        upsert/CDC a retirement probe of those partitions; a truthy
        ``pending`` is the operational signal to run the full-table
        :meth:`compact`, which rewrites them under the current spec
        and prunes the history."""
        doc = self._manifest_doc(version)
        cur = self._cur_spec(doc)
        old = [
            k
            for k in doc["partitions"]
            if self._split_key(doc, k)[0] != cur
        ]
        return {
            "current_spec": cur,
            "n_ptrs": len(doc["partitions"]),
            "n_old_spec_ptrs": len(old),
            "old_spec_cols": sorted(
                {self._split_key(doc, k)[0] for k in old}
            ),
            "pending": bool(old),
        }

    # decimal digits needed to hold each integral type losslessly
    _INT_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 20}

    @staticmethod
    def _widest(a, b):
        """Widest of two lossless-promotable types — the FULL S29
        lattice, mirroring every promotion :meth:`widen_column`
        accepts (r10 ADVICE: an int→decimal(p,0) widen left epochs
        whose physical types this function refused to reconcile, which
        made ``redact`` — and any other cross-epoch read — crash on a
        legally-widened table)."""
        if a == b:
            return a
        from pyspark.sql.types import DecimalType, DoubleType

        rank = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}
        sa, sb = a.simpleString(), b.simpleString()
        if sa in rank and sb in rank:
            return a if rank[sa] >= rank[sb] else b
        if {sa, sb} == {"float", "double"}:
            return DoubleType()
        if (
            isinstance(a, DecimalType)
            and isinstance(b, DecimalType)
            and a.scale == b.scale
        ):
            return a if a.precision >= b.precision else b
        # integral vs decimal(p,0): resolves to a scale-0 decimal wide
        # enough for both (widen_column admits int→decimal(p,0) with
        # p ≥ the integral's digit count, so these mixes are legal
        # on-disk states).
        for x, y in ((a, b), (b, a)):
            sx = x.simpleString()
            if (
                sx in SnapshotStore._INT_DIGITS
                and isinstance(y, DecimalType)
                and y.scale == 0
            ):
                return DecimalType(
                    max(y.precision, SnapshotStore._INT_DIGITS[sx]), 0
                )
        raise ValueError(
            f"cannot reconcile physical types {sa} and {sb}"
        )

    def _physical_read_schema(
        self, docs: list[dict], exclude: "frozenset | set | None" = None
    ) -> "StructType":
        """Explicit parquet read schema for files spanning manifest
        epochs: every PHYSICAL data column any epoch's schema maps to,
        at the WIDEST type any epoch declares (S29 widening reads the
        narrow files through promotion; files lacking a column read
        NULL). Partition columns (``exclude`` — default the store's
        partition column — plus v) are left out: they come from
        directory parsing. On a spec-evolved table the caller passes
        the SCANNED GROUP's spec column instead: every other spec's
        column is an ordinary data column in that group's files (S30).
        Passing this instead of mergeSchema avoids per-file footer
        reads AND the footer-merge failure on int/bigint mixes."""
        if exclude is None:
            exclude = {self.pc}
        out: dict[str, object] = {}
        for doc in docs:
            sj = doc.get("schema")
            if sj is None:
                continue
            cm_d = doc.get("colmap") or {}
            for f in StructType.fromJson(json.loads(sj)).fields:
                phys = cm_d.get(f.name, f.name)
                if phys in exclude:
                    continue
                out[phys] = (
                    f.dataType
                    if phys not in out
                    else self._widest(out[phys], f.dataType)
                )
        fields = [StructField(n, t, True) for n, t in out.items()]
        fields += [
            StructField("_rv", LongType(), True),
            StructField("_rid", LongType(), True),
        ]
        return StructType(fields)

    # --------------------------------------- schema evolution (S28)
    @staticmethod
    def _evolved(doc: dict) -> tuple["StructType", dict, dict]:
        """(logical schema, a copy of the colmap — identity on an
        un-evolved table — and a copy of the add-column defaults) of
        base manifest ``doc``, for a schema-evolution verb to change."""
        if doc.get("schema") is None:
            raise ValueError("manifest carries no schema to evolve")
        schema = StructType.fromJson(json.loads(doc["schema"]))
        cm = dict(doc.get("colmap") or {c.name: c.name for c in schema.fields})
        return schema, cm, dict(doc.get("defaults") or {})

    def add_column(self, name: str, dtype, default=None) -> int:
        """S28: add a nullable column — METADATA-ONLY (Iceberg
        ``ALTER TABLE ADD COLUMN``): publishes a new version whose
        pointers are a copy of the base; no data file is touched.
        Files written before this version read NULL for the column —
        or ``default`` when given (Iceberg v3 / Delta
        ``initial-default``): the value is stored in the manifest and
        substituted AT READ for exactly the rows whose write version
        predates the add (the row identity ``_rv`` is the exact
        discriminator, so a post-add row explicitly written NULL
        stays NULL). Rewrites (compact/upsert) read through the
        projection, so they bake the default into the files they
        produce. ``default`` must be JSON-storable (int/float/str/
        bool); it is cast to ``dtype`` at read.
        The PHYSICAL name is version-suffixed (``name__v<N>``), the
        field-ID-lite trick: a column dropped and later re-added under
        the same logical name can never resurrect stale bytes from old
        files, because the new physical name never collided with
        anything ever written. ``dtype`` is a pyspark DataType."""
        return self._commit(
            "add-column", self._stage_add_column, name, dtype, default
        )

    def _stage_add_column(self, doc: dict, name: str, dtype, default):
        schema, cm, defaults = self._evolved(doc)
        if name in {f.name for f in schema.fields}:
            raise ValueError(f"column {name!r} already exists")
        if default is not None and not isinstance(
            default, (int, float, str, bool)
        ):
            raise ValueError(
                "add_column default must be a JSON scalar "
                "(int/float/str/bool)"
            )
        v = self._claim_version()  # claimed first: the suffix is unique
        phys = f"{name}__v{v}"
        schema = StructType(
            schema.fields + [StructField(name, dtype, True)]
        )
        cm[name] = phys
        if default is not None:
            defaults[name] = {"value": default, "since": v}
        return v, dict(schema=schema.json(), colmap=cm, defaults=defaults)

    def rename_column(self, old: str, new: str) -> int:
        """S28: rename a column — METADATA-ONLY. The physical name in
        every existing (and future) data file stays the OLD name; only
        the logical→physical mapping changes, so the rename costs one
        manifest write on a 100 TB table and time travel still serves
        each version under the schema it was published with."""
        return self._commit(
            "rename-column", self._stage_rename_column, old, new
        )

    def _stage_rename_column(self, doc: dict, old: str, new: str):
        schema, cm, defaults = self._evolved(doc)
        # spec cols (current or historical) are rename-protected while
        # manifests may point at dirs keyed by them; an un-evolved
        # table's implicit spec is the __init__ partition column, and
        # a migrated table (compact pruned the history) frees old ones
        if cm.get(old, old) in {s["col"] for s in self._doc_specs(doc)}:
            raise ValueError("cannot rename the partition column")
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        cm[new] = cm.pop(old)
        if old in defaults:
            # defaults are keyed by LOGICAL name — follow the rename
            defaults[new] = defaults.pop(old)
        schema = StructType(
            [
                StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        return self._claim_version(), dict(
            schema=schema.json(), colmap=cm, defaults=defaults
        )

    def drop_column(self, name: str) -> int:
        """S28: drop a column — METADATA-ONLY (a logical projection
        change; the bytes stay in old files, invisible from this
        version on, still served by time travel to prior versions).
        The physical name is retired forever: add_column never reuses
        one, so a later re-add cannot resurrect the dropped values."""
        return self._commit("drop-column", self._stage_drop_column, name)

    def _stage_drop_column(self, doc: dict, name: str):
        schema, cm, defaults = self._evolved(doc)
        if cm.get(name, name) in self._spec_protected_cols(doc):
            # any spec column (current or historical) stays undroppable
            # while this manifest may point at dirs keyed by it (S30);
            # a composite spec's SOURCE columns are protected the same
            # way (future writes derive the partition value from them
            # — S30b); a full commit/compact collapses the history and
            # frees retired ones
            raise ValueError("cannot drop the partition column")
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no such column: {name!r}")
        phys = cm.get(name, name)
        for e in doc.get("deletes", []):
            if e.get("kind") == "eq" and e["col"] == phys:
                # S31: an active equality-delete entry filters on this
                # column's physical name; dropping it would remove the
                # column from the read schema, silently disarm the
                # filter, and resurrect the deleted rows. Compact
                # (folds the delete in and retires the entry) first.
                raise ValueError(
                    f"column {name!r} is referenced by equality-delete "
                    f"entry v{e['id']}; compact before dropping it"
                )
        cm.pop(name, None)
        defaults.pop(name, None)
        schema = StructType([f for f in schema.fields if f.name != name])
        return self._claim_version(), dict(
            schema=schema.json(), colmap=cm, defaults=defaults
        )

    # widening lattice: every edge is lossless (Iceberg's permitted
    # type promotions), so old files up-cast at read with no rewrite
    _WIDEN_OK = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
    }

    def widen_column(self, name: str, dtype) -> int:
        """S29: widen a column's type — METADATA-ONLY (Iceberg's
        ``ALTER COLUMN TYPE`` promotion rules: int→long, float→double,
        decimal precision growth at fixed scale). Existing files keep
        the narrow physical type and up-cast losslessly at read; new
        writes land at the wide type. Narrowing (or any lossy change —
        e.g. decimal scale change) is refused: a down-cast could
        silently truncate values already on disk."""
        return self._commit(
            "widen-column", self._stage_widen_column, name, dtype
        )

    def _stage_widen_column(self, doc: dict, name: str, dtype):
        from pyspark.sql.types import DecimalType

        schema, cm, _ = self._evolved(doc)
        field = next((f for f in schema.fields if f.name == name), None)
        if field is None:
            raise ValueError(f"no such column: {name!r}")
        old_t, new_t = field.dataType, dtype
        ok = (old_t.simpleString(), new_t.simpleString()) in self._WIDEN_OK
        if (
            not ok
            and isinstance(old_t, DecimalType)
            and isinstance(new_t, DecimalType)
        ):
            ok = (
                new_t.scale == old_t.scale
                and new_t.precision >= old_t.precision
            )
        if not ok and old_t.simpleString() in self._INT_DIGITS and isinstance(
            new_t, DecimalType
        ):
            ok = new_t.scale == 0 and new_t.precision >= self._INT_DIGITS[
                old_t.simpleString()
            ]
        if not ok:
            raise ValueError(
                f"not a lossless widening: {old_t.simpleString()} -> "
                f"{new_t.simpleString()}"
            )
        schema = StructType(
            [
                StructField(name, new_t, f.nullable)
                if f.name == name
                else f
                for f in schema.fields
            ]
        )
        return self._claim_version(), dict(schema=schema.json(), colmap=cm)

    def read_changes(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        key_cols: list[str],
    ) -> DataFrame:
        """Changelog read between two published versions (Iceberg's
        ``create_changelog_view`` shape): one row per key whose image
        differs — ``op`` ∈ 'I' (insert: key only in ``v_to``), 'U'
        (update: both versions, any value column differs null-safely;
        emits the NEW image), 'D' (delete: key only in ``v_from``;
        emits the OLD image, so deletes carry their partition value
        and the changelog is directly re-appliable). Unchanged keys
        produce nothing.

        MANIFEST-PRUNED: a partition whose (value → physical version)
        pointer is identical in both manifests cannot differ — those
        partitions are skipped before Spark lists a single file, so
        the scan cost is ∝ changed partitions, not table size (the
        copy-on-write layout is what makes the changelog cheap). The
        diff itself is one key-partitioned full-outer join of the two
        pruned reads with a struct null-safe compare — no windows, no
        collects.

        ROUND-TRIP CONTRACT (property-tested): applying the returned
        frame with :meth:`apply_changes` to a store positioned at
        ``v_from`` reproduces ``v_to``'s content exactly. Requires
        both versions to share a column set (schema evolution between
        the two versions is refused loudly)."""
        j, key_cols, _ = self._change_join(spark, v_from, v_to, key_cols)
        op = (
            F.when(F.col("_in_old").isNull(), F.lit("I"))
            .when(F.col("_in_new").isNull(), F.lit("D"))
            .when(
                ~F.col("_old_img").eqNullSafe(F.col("_new_img")), F.lit("U")
            )
        )
        img = F.when(F.col("op") == "D", F.col("_old_img")).otherwise(
            F.col("_new_img")
        )
        return (
            j.withColumn("op", op)
            .filter(F.col("op").isNotNull())
            .withColumn("_img", img)
            .select("op", *key_cols, "_img.*")
        )

    def read_change_feed(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        key_cols: list[str],
    ) -> DataFrame:
        """Change feed with update PREIMAGES (Delta Lake's CDF shape:
        ``update_preimage``/``update_postimage``): one row per
        insert ('I', new image) and delete ('D', old image), TWO rows
        per update — 'U-' carrying the old image and 'U+' the new.
        This is the shape incremental aggregate maintenance needs: a
        downstream grouped MV applies the feed as signed contributions
        (+1 for I/U+, −1 for D/U-) without ever consulting the base
        table — see ``operators/mv.py``. Same manifest pruning and
        single full-outer-join topology as :meth:`read_changes`; the
        U-row doubling is a metadata-free explode, no extra scan."""
        j, key_cols, _ = self._change_join(spark, v_from, v_to, key_cols)
        pair = F.when(
            F.col("_in_old").isNull(),
            F.array(F.struct(F.lit("I").alias("op"), F.col("_new_img").alias("img"))),
        ).when(
            F.col("_in_new").isNull(),
            F.array(F.struct(F.lit("D").alias("op"), F.col("_old_img").alias("img"))),
        ).when(
            ~F.col("_old_img").eqNullSafe(F.col("_new_img")),
            F.array(
                F.struct(F.lit("U-").alias("op"), F.col("_old_img").alias("img")),
                F.struct(F.lit("U+").alias("op"), F.col("_new_img").alias("img")),
            ),
        )
        return (
            j.withColumn("_pair", pair)
            .filter(F.col("_pair").isNotNull())
            .select(F.explode("_pair").alias("_e"), *key_cols)
            .select(F.col("_e.op").alias("op"), *key_cols, "_e.img.*")
        )

    def _change_join(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        key_cols: list[str],
    ):
        """Shared changelog core: manifest-pruned reads of both
        versions full-outer-joined on the keys, old/new images as
        structs. Returns ``(joined, key_cols, val_cols)``."""
        old = self._changed_read(spark, v_from, v_to)
        new = self._changed_read(spark, v_to, v_from)
        if sorted(old.columns) != sorted(new.columns):
            raise ValueError(
                f"schema changed between v{v_from} and v{v_to}: "
                f"{sorted(old.columns)} vs {sorted(new.columns)}"
            )
        val_cols = [c for c in new.columns if c not in key_cols]
        o = old.select(
            *key_cols,
            F.struct(*val_cols).alias("_old_img"),
            F.lit(True).alias("_in_old"),
        )
        n = new.select(
            *key_cols,
            F.struct(*val_cols).alias("_new_img"),
            F.lit(True).alias("_in_new"),
        )
        return o.join(n, key_cols, "full_outer"), key_cols, val_cols

    def _changed_read(
        self, spark: SparkSession, v: int, v_other: int
    ) -> DataFrame:
        """Read version ``v`` restricted to partitions whose CONTENT
        can differ from ``v_other``'s: pointer differs, OR a
        merge-on-read delete set present in exactly one of the two
        versions names the partition (a MOR delete changes content
        under identical pointers — its manifest entry records the
        touched partitions precisely so this prune stays exact)."""
        doc, doco = self._manifest_doc(v), self._manifest_doc(v_other)
        m, mo = doc["partitions"], doco["partitions"]
        dels = {e["id"]: e for e in doc.get("deletes", [])}
        delso = {e["id"]: e for e in doco.get("deletes", [])}
        mor_touched: set[str] = set()
        for did in set(dels) ^ set(delso):
            e = dels.get(did) or delso.get(did)
            if "partitions" not in e:
                # S31 equality delete: global scope — no touched-
                # partition list exists, so the identical-pointer
                # prune is disabled for this diff (every partition
                # may differ). The scan stays ∝ table, which is the
                # honest cost of diffing across a global delete; a
                # compact retires the entry and restores the prune.
                mor_touched |= set(m)
                break
            mor_touched |= set(e["partitions"])
        changed = [
            val
            for val, pv in m.items()
            if mo.get(val) != pv or val in mor_touched
        ]
        return self._read_doc(spark, doc, partition_values=sorted(changed))

    def _inherit_stats(
        self,
        doc: dict,
        manifest: dict[str, int],
        written: list[str],
        v: int,
    ) -> dict[str, dict[str, list]]:
        """Manifest stats for an incremental commit: freshly computed
        bounds for the partitions this write produced, inherited
        bounds for every pointer carried over from base manifest
        ``doc``."""
        prev_stats = doc.get("stats", {})
        spec_col = self._cur_spec(doc)
        wkeys = {self._mk_key(doc, spec_col, a) for a in written}
        out = {
            key: prev_stats[key]
            for key in manifest
            if key not in wkeys and key in prev_stats
        }
        out.update(
            {
                self._mk_key(doc, spec_col, a): st
                for a, st in self._partition_stats(
                    written, v, spec_col=spec_col
                ).items()
            }
        )
        return out

    # ------------------------------------------------------ redact
    def redact(
        self,
        spark: SparkSession,
        key_cols: list[str],
        keys: DataFrame,
    ) -> int:
        """Erase rows matching ``keys`` from EVERY published version —
        the right-to-be-forgotten operation, which deliberately breaks
        snapshot immutability for exactly the matched rows while
        leaving all other rows byte-stable semantics (time travel
        still returns every non-redacted row of every version).

        Mechanics: each physical data directory ``<pc>=<val>/v=<N>``
        is rewritten AT MOST ONCE (a directory shared by many
        manifests via copy-on-write is rewritten a single time and
        every manifest that pointed at it is repointed), into a fresh
        claimed version directory — the original dirs are removed only
        after all rewrites succeed, and manifests are republished
        in-place last, so a crash mid-redact leaves every version
        readable (old pointers stay valid until the final swap).
        Returns the number of physical partition directories
        rewritten. Refused on a branch store: branches share the
        parent's physical dirs, so a branch-scope redact would mutate
        versions the parent chain still serves — redact through the
        parent (whose scope covers branch-referenced dirs only via
        its own chain; merge or delete branches first for full
        erasure). Like Iceberg, DELETE FILES are not rewritten: a
        position-delete set holds only synthetic row ids, but an S31
        equality-delete key set holds column VALUES — if the redacted
        key's value sits in a live eq entry on that same column, run
        a compact (retires the entry and GCs its file via vacuum) to
        complete the erasure. Driver-side work is
        O(#versions × #partitions)
        manifest bookkeeping; data work is ONE union-scan probe job
        over all referenced directories (the keys broadcast, so the
        probe is a map-side semi-join with no shuffle) plus ONE
        partitioned write that rewrites every hit directory — at
        #versions × #partitions in the hundreds the r7 per-directory
        probe loop paid one driver round-trip per dir; this is O(1)
        jobs total. Assumes no concurrent writers for the duration
        (administrative op, like vacuum)."""
        if self._branch_meta is not None:
            raise ValueError("redact a branch through its parent store")
        # Right-to-be-forgotten covers BRANCH chains too: their
        # manifests share the parent's physical dirs (pointer-copy
        # fork), so they are probed, repointed, and republished in the
        # same pass — otherwise a redacted dir's removal would leave a
        # branch manifest dangling (and the erased rows readable).
        stores: list[SnapshotStore] = [self] + [
            self.branch(n) for n in self.branches()
        ]
        mdocs = {
            (si, v): st._manifest_doc(v)
            for si, st in enumerate(stores)
            for v in st._published_versions()
        }
        docs_all = list(mdocs.values())
        # Physical dirs any manifest references, keyed by the spec
        # col each pointer was written under (S30 — a spec-evolved
        # chain references dirs under several partition columns;
        # each doc's own key format resolves its pointers).
        dirs: set[tuple[str, str, int]] = set()
        for (si, _), doc in mdocs.items():
            st = stores[si]
            for k, pv in doc["partitions"].items():
                col, val = st._split_key(doc, k)
                dirs.add((col, val, pv))
        if not dirs:
            return 0
        # PHYSICAL key-column variants across ALL manifests (S28): a
        # logical key column may live under different physical names in
        # different epochs (renamed at some version, reset by a later
        # full commit), so the probe matches on a COALESCE of every
        # physical name that ever mapped to it — translating through
        # only the latest colmap would silently skip pre-rename files,
        # a right-to-be-forgotten violation.
        variants: dict[str, list[str]] = {}
        for k in key_cols:
            seen = []
            for doc in docs_all:
                cm_d = doc.get("colmap") or {}
                phys = cm_d.get(k, k)
                if phys not in seen:
                    seen.append(phys)
            if k not in seen:
                seen.append(k)
            variants[k] = seen
        # ONE probe job: union-read every referenced dir with basePath
        # so the partition column (valid in key_cols — r7 ADVICE) and
        # the physical version come back from directory parsing, then
        # a broadcast semi-join marks the (partition, version) dirs
        # that actually hold a matching row. EXPLICIT physical schema
        # (union of every manifest epoch's physical columns at their
        # widest types): an evolved table's files are schema-
        # heterogeneous (post-add files carry physical columns pre-add
        # files lack; pre-widen files carry narrower types); reading
        # with one footer's schema would make the REWRITE below
        # silently drop columns that footer misses — destroying
        # added-column data for unrelated rows (r10 review) — and
        # mergeSchema refuses int/bigint mixes after a widen.
        #
        # Partition-type inference OFF (r9 ADVICE): the directory
        # string must round-trip exactly through probe, filter,
        # partitionBy rewrite, and manifest repoint.
        kdf = keys.select(*key_cols).distinct()
        # One probe + one rewrite PER SPEC GROUP (S30): dirs written
        # under the same partition column share a layout, so each
        # group gets the single-scan treatment the docstring
        # describes; a never-evolved table has exactly one group and
        # the per-group pass is byte-identical to the classic one.
        groups: dict[str, list[tuple[str, int]]] = {}
        for col, val, pv in sorted(dirs):
            groups.setdefault(col, []).append((val, pv))
        remap: dict[tuple[str, str, int], int] = {}
        removed_dirs: list[str] = []
        wide_types: dict[str, object] = {}
        for gcol, gdirs_vals in sorted(groups.items()):
            with _no_partition_inference(spark):
                union = (
                    spark.read.option("basePath", self.data)
                    .schema(
                        self._physical_read_schema(
                            docs_all, exclude={gcol}
                        )
                    )
                    .parquet(
                        *(
                            self._pdir(val, pv, spec_col=gcol)
                            for val, pv in gdirs_vals
                        )
                    )
                )
            # Per-key match expression: coalesce of the present
            # physical variants. A key column none of whose variants
            # exist in any of this group's files can never match here
            # — nothing to redact in this group.
            scan_cols = set(union.columns)
            kexpr: dict[str, "F.Column"] = {}
            skip_group = False
            for k in key_cols:
                present = [p for p in variants[k] if p in scan_cols]
                if not present:
                    skip_group = True
                    break
                kexpr[k] = (
                    F.col(present[0])
                    if len(present) == 1
                    else F.coalesce(*[F.col(p) for p in present])
                )
            if skip_group:
                continue
            ktypes = {
                f.name: f.dataType
                for f in union.select(
                    *[kexpr[k].alias(k) for k in key_cols]
                ).schema.fields
            }
            # Align key types: directory-parsed partition values may
            # parse narrower than the caller's keys frame. Internal
            # aliases are namespaced so they can't collide with
            # physical column names.
            kcast = kdf.select(
                *[
                    F.col(c).cast(ktypes[c]).alias(f"__karna_key_{i}")
                    for i, c in enumerate(key_cols)
                ]
            )

            def _key_cond(frame_keys, kexpr=kexpr):
                cond = None
                for i, k in enumerate(key_cols):
                    c = kexpr[k] == frame_keys[f"__karna_key_{i}"]
                    cond = c if cond is None else (cond & c)
                return cond
            hits = {
                (str(r["_pval"]), int(r["_pv"]))
                for r in (
                    union.join(
                        F.broadcast(kcast), _key_cond(kcast), "left_semi"
                    )
                    .select(
                        F.col(gcol).cast("string").alias("_pval"),
                        F.col("v").cast("bigint").alias("_pv"),
                    )
                    .distinct()
                    .collect()
                )
            }
            # Claim one fresh version per hit dir, then rewrite ALL of
            # this group's hit dirs in a single partitioned write: the
            # probe's union frame is filtered to the hit (partition,
            # version) pairs (partition pruning — only hit dirs are
            # re-read), the erased keys anti-joined away map-side, and
            # the physical version column remapped old->new by
            # expression so ``partitionBy`` fans the one job out into
            # every target directory at once.
            if hits:
                claimed = {hd: self._claim_version() for hd in sorted(hits)}
                ptype = union.schema[gcol].dataType
                hit_cond = None
                nv_expr = F.col("v")
                for (val, pv), nv in claimed.items():
                    # Literals cast to the partition column's parsed
                    # type: the comparison stays a plain partition-
                    # filter, so only the hit directories are re-read.
                    cond = (F.col(gcol) == F.lit(val).cast(ptype)) & (
                        F.col("v") == F.lit(pv)
                    )
                    hit_cond = cond if hit_cond is None else (hit_cond | cond)
                    nv_expr = F.when(cond, F.lit(nv)).otherwise(nv_expr)
                kept = (
                    union.filter(hit_cond)
                    .withColumn("v", nv_expr)
                    .join(F.broadcast(kcast), _key_cond(kcast), "left_anti")
                )
                with _no_partition_inference(spark):  # see _write
                    kept.write.mode("append").partitionBy(gcol, "v").parquet(
                        self.data
                    )
                for (val, pv), nv in claimed.items():
                    remap[(gcol, val, pv)] = (
                        nv
                        if os.path.isdir(self._pdir(val, nv, spec_col=gcol))
                        else -1
                    )
                    removed_dirs.append(self._pdir(val, pv, spec_col=gcol))
                # declared-type upgrades for repointed manifests: only
                # DATA columns of this group's scan (the dir-parsed
                # group col is a string parse, never an upgrade
                # source — other groups carry its real type)
                for f in union.schema.fields:
                    if f.name != gcol and f.name != "v":
                        wide_types[f.name] = f.dataType
        # Republish every manifest with repointed (or dropped, if the
        # rewrite emptied the directory) partitions, then drop originals.
        # Rewritten files carry the WIDEST physical types (the probe
        # union read them through _physical_read_schema across ALL
        # epochs), so a manifest repointed at them must also upgrade
        # its declared types: a pre-widen epoch's explicit NARROW
        # schema applied to the rewritten wide parquet is a narrowing
        # read, which Spark refuses — breaking time travel to that
        # version (r10 ADVICE). Widening is lossless, so upgrading the
        # repointed manifest's types preserves the logical contract.
        rewritten_rows: dict[tuple[str, str, int], int] = {}
        for (si, v), cached in mdocs.items():
            st = stores[si]
            m = cached["partitions"]
            new_m: dict[str, int] = {}
            repointed = False
            stat_fix: dict[str, int | None] = {}
            for key, pv in m.items():
                col, val = st._split_key(cached, key)
                nv = remap.get((col, val, pv), pv)
                repointed = repointed or nv != pv
                if nv != -1:  # -1 == rewrite emptied the directory
                    new_m[key] = nv
                    if nv != pv:
                        # S32: the repointed dir holds FEWER rows —
                        # refresh the manifest's count from the new
                        # footers (once per rewritten dir, driver-side
                        # metadata read) so COUNT-from-manifest stays
                        # exact. Bounds stay stale-wide (supersets
                        # prune conservatively); counts cannot.
                        rk = (col, val, nv)
                        if rk not in rewritten_rows:
                            rewritten_rows[rk] = self._dir_rows(
                                self._pdir(val, nv, spec_col=col)
                            )
                        stat_fix[key] = rewritten_rows[rk]
                else:
                    stat_fix[key] = None  # partition gone — drop stats
            doc = st._manifest_doc(v)
            doc["partitions"] = new_m
            if stat_fix and doc.get("stats"):
                stats_d = dict(doc["stats"])
                for key, n in stat_fix.items():
                    if n is None:
                        stats_d.pop(key, None)
                    elif key in stats_d:
                        stats_d[key] = {**stats_d[key], "__rows": n}
                doc["stats"] = stats_d
            if repointed and doc.get("schema") is not None:
                cm_d = doc.get("colmap") or {}
                # spec columns parse as strings with inference off —
                # never a declared-type upgrade source (wide_types
                # already excludes each group's own dir-parsed col,
                # but a doc's spec col can be another group's data
                # col, so guard per-doc too)
                spec_cols = {s["col"] for s in st._doc_specs(doc)}
                schema = StructType.fromJson(json.loads(doc["schema"]))
                doc["schema"] = StructType(
                    [
                        StructField(
                            f.name,
                            f.dataType
                            if cm_d.get(f.name, f.name) in spec_cols
                            else wide_types.get(
                                cm_d.get(f.name, f.name), f.dataType
                            ),
                            f.nullable,
                        )
                        for f in schema.fields
                    ]
                ).json()
            tmp = st._mpath(v) + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(doc, fh, sort_keys=True)
            os.replace(tmp, st._mpath(v))  # in-place swap, atomic
        for src in removed_dirs:
            _remove_leaf_dir(src, ignore_errors=True)
        return len(removed_dirs)


    # --------------------------------------------------------- tags
    _TAG_NAME = r"[A-Za-z0-9][A-Za-z0-9._-]*"

    def _tag_path(self, name: str) -> str:
        import re

        if not re.fullmatch(self._TAG_NAME, name):
            raise ValueError(f"invalid tag name {name!r}")
        return os.path.join(self.mdir, f"tag_{name}.json")

    def tag(self, name: str, version: int | None = None) -> int:
        """Create or move a named ref pinned to ``version`` (default:
        latest) — Iceberg's tag semantics: a tagged snapshot is
        retained by :meth:`vacuum` regardless of ``retain_last``, so
        'prod' / release tags survive history expiry until the tag is
        deleted. The tag file swap is atomic (write-new + rename)."""
        v = self.latest_version() if version is None else version
        if v not in self._published_versions():
            raise ValueError(f"cannot tag unpublished version v{v}")
        p = self._tag_path(name)
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"name": name, "version": v}, fh)
        os.replace(tmp, p)
        return v

    def delete_tag(self, name: str) -> None:
        os.unlink(self._tag_path(name))

    def tags(self) -> dict[str, int]:
        """All named refs as {tag: version}."""
        out: dict[str, int] = {}
        for f in os.listdir(self.mdir):
            if f.startswith("tag_") and f.endswith(".json"):
                with open(os.path.join(self.mdir, f)) as fh:
                    doc = json.load(fh)
                out[doc["name"]] = doc["version"]
        return out

    # ----------------------------------------------------- branches
    def _bdir(self, name: str) -> str:
        return os.path.join(self.root, "_branches", name)

    def _branch_store(self, name: str) -> "SnapshotStore":
        bdir = self._bdir(name)
        with open(os.path.join(bdir, "meta.json")) as fh:
            meta = json.load(fh)
        br = SnapshotStore(
            bdir, self.pc, clock=self._clock, distribution=self.distribution
        )
        br.data = self.data          # shared physical storage (CoW)
        br.cdir = self.cdir          # store-global version claims
        br._branch_meta = meta
        return br

    def create_branch(
        self, name: str, version: int | None = None
    ) -> "SnapshotStore":
        """Fork a writable branch at ``version`` (default latest) —
        the write-audit-publish workspace (Iceberg/Nessie branch
        semantics): the branch's v1 is a POINTER COPY of the parent
        manifest (no data is rewritten), subsequent commits/upserts/
        CDC applies on the branch claim store-global version numbers
        and write into the shared data dir, and the parent chain never
        sees them until :meth:`merge_branch`. Parent :meth:`vacuum`
        pins every version a live branch references."""
        if self._branch_meta is not None:
            raise ValueError("cannot branch from a branch")
        v = self.latest_version() if version is None else version
        if v not in self._published_versions():
            raise ValueError(f"cannot branch unpublished version v{v}")
        bdir = self._bdir(name)
        if os.path.exists(bdir):
            raise ValueError(f"branch {name!r} already exists")
        os.makedirs(os.path.join(bdir, "_manifests"))
        with open(os.path.join(bdir, "meta.json"), "w") as fh:
            json.dump({"name": name, "fork_base": v}, fh)
        br = self._branch_store(name)
        br._publish(1, self._manifest_doc(v), "branch-fork")
        return br

    def branch(self, name: str) -> "SnapshotStore":
        """Open an existing branch as a store (read/write)."""
        if not os.path.exists(self._bdir(name)):
            raise ValueError(f"no such branch: {name!r}")
        return self._branch_store(name)

    def branches(self) -> list[str]:
        broot = os.path.join(self.root, "_branches")
        if not os.path.isdir(broot):
            return []
        return sorted(
            d
            for d in os.listdir(broot)
            if os.path.exists(os.path.join(broot, d, "meta.json"))
        )

    def merge_branch(self, name: str) -> int:
        """FAST-FORWARD the parent to the branch head: publish a new
        parent version whose manifest is a pointer copy of the branch
        head's (data written on the branch becomes visible, still
        never rewritten). CAS-validated against the branch's fork
        base — if the parent advanced since the fork this raises
        ``ConcurrentWriteError`` rather than silently dropping the
        interleaved commits (a 3-way merge is refused loudly; re-fork
        and replay instead). The branch stays live until
        :meth:`delete_branch` — on a successful merge its fork base is
        ADVANCED to the just-published parent version, so a branch
        that keeps committing can be merged again (previously the
        stale fork base made every second merge raise
        ``ConcurrentWriteError`` even with no interleaved writer)."""
        br = self.branch(name)
        doc = br._manifest_doc()
        v = self._claim_version()
        self._publish(
            v, doc, "branch-merge",
            base_version=br._branch_meta["fork_base"],
        )
        meta_path = os.path.join(self._bdir(name), "meta.json")
        with open(meta_path) as fh:
            meta = json.load(fh)
        meta["fork_base"] = v
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, meta_path)
        return v

    def delete_branch(self, name: str) -> None:
        """Drop the branch's manifest chain; its unmerged data becomes
        unreferenced and the next parent vacuum collects it."""
        import shutil

        if not os.path.exists(self._bdir(name)):
            raise ValueError(f"no such branch: {name!r}")
        shutil.rmtree(self._bdir(name))

    # ------------------------------------------------------- clone
    def clone(
        self,
        dest_root: str,
        version: int | None = None,
        clock=None,
        pin: bool = True,
    ) -> "SnapshotStore":
        """SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW CLONE``):
        a NEW independent table at ``dest_root`` whose first manifest
        is a pointer copy of this table's ``version`` (default
        latest). Zero data is copied — every inherited leaf dir (and
        merge-on-read delete set) is a SYMLINK into the source's data
        dir, the local-filesystem realization of Iceberg's
        absolute-URI manifests (on an object store the manifest would
        simply record the source's URIs; symlinks keep every certified
        read/write path here single-rooted and untouched).

        Unlike a branch, the clone is a full store of its own: its own
        version claims, tags, branches, history, vacuum and schema
        lifecycle, and the source never learns of it. The clone's
        first version number CONTINUES the source lineage — it equals
        the source's highest CLAIMED version — so inherited pointer
        versions (which can exceed their manifest's version after a
        redact rewrite) can never collide with the clone's own claims
        (which start one above).
        Divergence is copy-on-write: each clone-side write replaces
        whole-partition pointers with locally-written dirs, gradually
        privatizing the table.

        Shared-data caveats (exactly Delta's documented shallow-clone
        semantics):
        - ``vacuum``/``redact`` on the CLONE drop its references
          (symlinks) only — they never delete the source's bytes
          (which other tables may serve). A right-to-be-forgotten
          erase of rows still served by inherited pointers must also
          run on the source table.
        - ``vacuum`` on the SOURCE does not know about clones; if it
          expires a version the clone still references, the clone's
          reads of those partitions fail loudly (dangling symlink).
          By default (``pin=True``) the clone therefore leaves a
          source-side :meth:`tag` ``clone-<dest basename>`` pinning
          the forked version through source vacuums — delete the tag
          (or pass ``pin=False``, Delta's untracked-clone behavior)
          when the clone no longer needs the shared files. A source
          REDACT still rewrites shared dirs regardless of tags (the
          right-to-be-forgotten contract outranks clone pins).
        """
        if self._branch_meta is not None:
            raise ValueError("clone the parent store, not a branch")
        v = self.latest_version() if version is None else version
        if v not in self._published_versions():
            raise ValueError(f"cannot clone unpublished version v{v}")
        if os.path.exists(dest_root) and os.listdir(dest_root):
            raise ValueError(f"clone destination {dest_root!r} not empty")
        doc = self._manifest_doc(v)
        # The clone's first version number: the source's highest
        # CLAIMED version (not the manifest version — a redact rewrite
        # claims fresh dir versions ABOVE the manifests it republishes,
        # so pointer versions can exceed their manifest's). Publishing
        # at the claim ceiling makes every future clone-side claim
        # strictly greater than any inherited (symlinked) dir version;
        # otherwise a clone upsert could claim a number equal to an
        # inherited pointer and write THROUGH the symlink into the
        # source's data (caught by the lifecycle model check).
        claimed = [
            int(f[1:-11])
            for f in os.listdir(self.cdir)
            if f.startswith("v") and f.endswith(".json.claim")
        ]
        base = max(
            [v, *claimed, *doc["partitions"].values()]
            + [e["id"] for e in doc.get("deletes", [])]
        )
        made_root = not os.path.exists(dest_root)
        try:
            cl = SnapshotStore(
                dest_root, self.pc, clock=clock,
                distribution=self.distribution,
            )
            os.makedirs(cl.data, exist_ok=True)
            for key, pv in doc["partitions"].items():
                src = os.path.abspath(self._kdir(doc, key, pv))
                dst = cl._kdir(doc, key, pv)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.symlink(src, dst)
            for e in doc.get("deletes", []):
                src = os.path.abspath(self._ddir(e["id"]))
                dst = cl._ddir(e["id"])
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                if not os.path.lexists(dst):  # entries may share an id dir
                    os.symlink(src, dst)
            with open(os.path.join(dest_root, "clone.json"), "w") as fh:
                json.dump(
                    {
                        "source_root": os.path.abspath(self.root),
                        "source_version": v,
                    },
                    fh,
                )
            cl._publish(base, doc, "clone")
        except BaseException:
            # a half-built clone would trip the not-empty guard on
            # every retry; nothing here is shared with the source
            # (symlinks drop references, never bytes), so a failed
            # build is safe to remove wholesale
            import shutil

            if made_root:
                shutil.rmtree(dest_root, ignore_errors=True)
            raise
        if pin:
            self.tag(
                f"clone-{os.path.basename(os.path.normpath(dest_root))}", v
            )
        return cl

    # ------------------------------------------------------ vacuum
    def vacuum(
        self,
        retain_last: int = 1,
        orphan_grace_sec: float = 86400.0,
        older_than: float | None = None,
    ) -> list[str]:
        """Garbage-collect data directories no retained manifest
        references: expired-version data (time travel keeps the last
        ``retain_last`` published versions) and orphans from crashed
        commits (a claimed version with no manifest). Returns the
        deleted ``<pc>=<val>/v=<N>`` relative paths.

        An UNPUBLISHED version is indistinguishable from an IN-FLIGHT
        commit by layout alone — a live writer has claimed its version
        and is writing ``v=<N>`` dirs that no manifest references YET
        (r7 ADVICE: vacuuming those leaves the about-to-publish
        manifest dangling). So, Iceberg's orphan-file age threshold:
        an unpublished version's dirs are only collected once its
        ``.claim`` marker is older than ``orphan_grace_sec`` (default
        24h — far beyond any commit's write+publish window; pass 0
        only when no writer can be live).

        Mirrors Iceberg's expire-snapshots/orphan-file split: manifest
        JSONs for expired versions are removed too, so
        ``latest_version`` stays correct and a reader asking for an
        expired version fails loudly rather than reading half a
        snapshot. Claim markers are kept — version numbers must never
        be reused even after a vacuum."""
        if self._branch_meta is not None:
            # A branch shares the parent's data dir but sees only its
            # own manifests — collecting from its narrow view would
            # delete dirs the parent chain still references.
            raise ValueError("vacuum a branch through its parent store")
        published = self._published_versions()
        retained = published[-retain_last:] if retain_last > 0 else []
        # Retention-by-age (Iceberg's ``expire_snapshots(older_than=
        # ts)``, the form governance policies state): every published
        # version whose ``committed_at`` stamp is strictly newer than
        # ``older_than`` is retained IN ADDITION to the count-based
        # window, and the current snapshot is never expired — so
        # ``vacuum(retain_last=1, older_than=now - 7*86400)`` is
        # exactly "keep a week of time travel". The stamps come from
        # the injectable commit clock, so the policy is deterministic
        # under test.
        if older_than is not None and published:
            aged = [
                v
                for v in published
                if self._manifest_doc(v).get("committed_at", 0.0)
                > older_than
            ]
            retained = sorted(set(retained) | set(aged) | {published[-1]})
        # Tagged snapshots are pinned (Iceberg tag semantics): their
        # manifests and data stay until the tag is deleted.
        retained = sorted(set(retained) | set(self.tags().values()))
        # live keys are (spec col, raw value, version): a spec-evolved
        # table's manifests reference dirs under MULTIPLE partition
        # columns (S30) — each doc's own key format resolves them
        live: set[tuple[str, str, int]] = set()
        live_dels: set[int] = set()
        for v in retained:
            doc = self._manifest_doc(v)
            live.update(
                (*self._split_key(doc, k), pv)
                for k, pv in doc["partitions"].items()
            )
            live_dels.update(e["id"] for e in doc.get("deletes", []))
        # Branch refs pin: every published version of every live branch
        # keeps its pointers (a branch is a short-lived WAP workspace;
        # delete_branch releases them for the next vacuum).
        for name in self.branches():
            br = self.branch(name)
            for v in br._published_versions():
                bdoc = br._manifest_doc(v)
                live.update(
                    (*br._split_key(bdoc, k), pv)
                    for k, pv in bdoc["partitions"].items()
                )
                live_dels.update(e["id"] for e in bdoc.get("deletes", []))
        now = time.time()
        in_flight: set[int] = set()
        for f in os.listdir(self.cdir):
            if not f.endswith(".claim"):
                continue
            ver = int(f[1:-11])  # v<N>.json.claim
            if ver in published:
                continue  # published — not in flight
            age = now - os.path.getmtime(os.path.join(self.cdir, f))
            if age < orphan_grace_sec:
                in_flight.add(ver)
        deleted = []
        for d in sorted(os.listdir(self.data)):
            # any <col>=<val> partition dir (the data dir holds only
            # partition dirs plus the _deletes area; spec evolution
            # means the col prefix varies per write epoch)
            if d.startswith("_") or "=" not in d:
                continue
            col, _, enc = d.partition("=")
            val = _unescape_partition(enc)
            pdir = os.path.join(self.data, d)
            for vd in sorted(os.listdir(pdir)):
                if not vd.startswith("v="):
                    continue
                ver = int(vd[2:])
                if (col, val, ver) not in live and ver not in in_flight:
                    _remove_leaf_dir(os.path.join(pdir, vd))
                    deleted.append(os.path.join(d, vd))
        # Merge-on-read delete sets: GC those no retained manifest
        # (parent or branch) lists, same in-flight grace as data dirs
        # (delete_where writes its set before publishing).
        droot = os.path.join(self.data, "_deletes")
        if os.path.isdir(droot):
            for dd in sorted(os.listdir(droot)):
                if not dd.startswith("d="):
                    continue
                dv = int(dd[2:])
                if dv not in live_dels and dv not in in_flight:
                    _remove_leaf_dir(os.path.join(droot, dd))
                    deleted.append(os.path.join("_deletes", dd))
        for f in os.listdir(self.mdir):
            if (
                f.startswith("v")
                and f.endswith(".json")
                and f[1:-5].isdigit()
                and int(f[1:-5]) not in retained
            ):
                os.unlink(os.path.join(self.mdir, f))
        return deleted

    # -------------------------------------------------------- reads
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        partition_values: list[str] | None = None,
        where: tuple[str, object, object] | None = None,
        where_eq: "tuple[str, object] | None" = None,
        tag: str | None = None,
        as_of: float | None = None,
    ) -> DataFrame:
        """Read snapshot ``version`` (default: latest). Resolves the
        manifest to leaf dirs so Spark scans exactly the committed
        files; ``basePath`` restores the partition column and keeps
        partition pruning live for downstream filters. A version whose
        manifest holds no partitions (every row deleted or redacted)
        returns an EMPTY frame with the schema stored in the manifest
        (r7 ADVICE — the time-travel contract says every version stays
        readable); a MISSING manifest (never published, or expired by
        vacuum) still fails loudly with FileNotFoundError.

        Versions carrying merge-on-read delete sets (S27,
        :meth:`delete_where`) are served by a broadcast anti-join of
        the scan against the version's delete files on the synthetic
        row identity (``_rv``, ``_rid``) — Iceberg-v2
        position-delete / Delta deletion-vector semantics: no data
        file is rewritten at delete time, every reader of this and
        later versions sees the rows gone, and earlier versions are
        untouched. Delete sets are assumed small relative to the
        table (the merge-on-read premise — ~16 bytes/row broadcast);
        fold a large accumulated set into the data with
        :meth:`compact`, which reads through the deletes and clears
        the fully-rewritten entries.

        ``where_eq=(field, value)`` is the PARTITION-pruning path for
        equality predicates (S30b): the predicate is evaluated against
        every spec epoch's layout — identity, bucket, truncate
        transforms included — so only consistent directories are
        scanned (see :meth:`prune_keys`), with a residual row filter
        keeping the result exact.

        ``where=(col, lo, hi)`` is the manifest-stat data-skipping
        path for NON-partition columns (Iceberg-style): partitions
        whose stored [min, max] bounds for ``col`` cannot intersect
        [lo, hi] are dropped BEFORE Spark ever lists their files, and
        the residual ``BETWEEN`` filter is applied to what remains, so
        the result is exact whether or not bounds exist (missing
        bounds — old manifests, non-orderable columns — just skip the
        pruning). Bounds survive redact as supersets: pruning can
        only fail to skip, never lose rows."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass either version or tag, not both")
            with open(self._tag_path(tag)) as fh:
                version = json.load(fh)["version"]
        if as_of is not None:
            if version is not None:
                raise ValueError(
                    "pass either version/tag or as_of, not both"
                )
            version = self.version_as_of(as_of)
        doc = self._manifest_doc(version)
        return self._read_doc(spark, doc, partition_values, where, where_eq)

    def version_as_of(self, ts: float) -> int:
        """Timestamp time travel: the newest version committed at or
        before epoch seconds ``ts`` (every manifest is stamped
        ``committed_at`` at publish; resolution is a driver-side scan
        of the manifest list — O(#versions) JSON reads, like Iceberg's
        metadata-log lookup). Raises ``ValueError`` when none was."""
        cands = [
            w
            for w in self._published_versions()
            if self._manifest_doc(w).get("committed_at", 0.0) <= ts
        ]
        if not cands:
            raise ValueError(f"no version committed at or before {ts}")
        return max(cands)

    def _read_doc(
        self,
        spark: SparkSession,
        doc: dict,
        partition_values: list[str] | None = None,
        where: tuple[str, object, object] | None = None,
        where_eq: "tuple[str, object] | None" = None,
        keep_hidden: bool = False,
        with_pkey: bool = False,
    ) -> DataFrame:
        """:meth:`read` of manifest ``doc``. ``keep_hidden`` keeps the
        row identity (``_rv``, ``_rid``) and ``with_pkey`` appends
        ``_pkey``, the raw manifest key of each row's partition."""
        manifest = doc["partitions"]
        cm = doc.get("colmap")
        if partition_values is not None:
            # tolerant point reads: a spec_key tuple that was never
            # written (or whose partition was emptied) has ZERO rows —
            # return the empty frame, don't KeyError on the dict
            manifest = {
                k: manifest[k] for k in partition_values if k in manifest
            }
        if where_eq is not None:
            # S30b automatic equality pruning: evaluate the predicate
            # against every spec epoch's layout (identity / bucket /
            # truncate transforms — :meth:`prune_keys`), keep only
            # consistent directories, and apply the residual filter
            # below. The caller writes ``where_eq=("k", 42)`` and the
            # engine prunes at manifest level — Iceberg's scan-planning
            # behavior, no manual key construction.
            ecol, eval_ = where_eq
            keep = set(self._prune_keys(doc, ecol, eval_))
            manifest = {k: pv for k, pv in manifest.items() if k in keep}
        if where is not None:
            wcol, lo, hi = where
            # stats are keyed by PHYSICAL column names (computed from
            # the written footers); translate a logical where-column
            wphys = (cm or {}).get(wcol, wcol)
            st = doc.get("stats", {})
            manifest = {
                val: pv
                for val, pv in manifest.items()
                if not (
                    val in st
                    and wphys in st[val]
                    and (st[val][wphys][0] > hi or st[val][wphys][1] < lo)
                )
            }
        if not manifest:
            schema_json = doc.get("schema")
            if schema_json is None:
                raise ValueError(
                    f"snapshot v{doc.get('version')} is empty and carries no "
                    "schema"
                )
            schema = StructType.fromJson(json.loads(schema_json))
            if keep_hidden:
                schema = StructType(
                    schema.fields
                    + [
                        StructField("_rv", LongType()),
                        StructField("_rid", LongType()),
                    ]
                )
            out = spark.createDataFrame([], schema)
            if with_pkey:
                out = out.withColumn("_pkey", F.lit(None).cast("string"))
        elif "specs" not in doc:
            dirs = [
                self._pdir(val, pv) for val, pv in sorted(manifest.items())
            ]
            reader = spark.read.option("basePath", self.data)
            if doc.get("schema") is not None:
                # EXPLICIT physical schema, evolved or not. Evolved
                # tables need it for correctness: files span schema
                # epochs (pre-add files lack new physical columns;
                # pre-widen files carry narrower types) and the
                # explicit schema reads them all — absent columns fill
                # NULL, narrow types promote losslessly (S29) — with
                # none of mergeSchema's int/bigint refusal. Un-evolved
                # tables take it for PLANNING cost: schema inference
                # reads parquet footers driver-side on every read, and
                # the lifecycle verbs (upsert/CDC/compact) re-read the
                # store many times per commit — measured ~0.2 s per
                # read at 25 partitions (r12 optimization round). The
                # manifest is the schema authority either way. Field
                # order matches inference exactly (manifest order IS
                # the written frame's order, minus the dir-parsed
                # partition columns).
                reader = reader.schema(self._physical_read_schema([doc]))
            # inference OFF: the partition column comes back as the
            # RAW directory string and is cast to its DECLARED type —
            # inference would re-render numeric-looking string values
            # ('00123' → '123'), silently corrupting them and splitting
            # one logical partition into two keys on the next upsert
            with _no_partition_inference(spark):
                out = reader.parquet(*dirs)
            # ONE fused projection for the post-scan fixups (drop the
            # dir-parsed v, restore the partition column's declared
            # type, append _pkey) — r13: every Dataset op here is an
            # EAGER analysis pass plus py4j round-trips, and the
            # lifecycle verbs call read() many times per commit
            # (profiled ~150 ms per read, mostly this chain).
            pt = None
            if cm is None and doc.get("schema") is not None:
                # un-evolved table: no logical projection runs below,
                # so restore the partition column's declared type here
                pt = next(
                    (
                        f.dataType
                        for f in StructType.fromJson(
                            json.loads(doc["schema"])
                        ).fields
                        if f.name == self.pc
                    ),
                    None,
                )
            proj = [
                F.col(c).cast(pt).alias(c)
                if (c == self.pc and pt is not None)
                else F.col(c)
                for c in out.columns
                if c != "v"
            ]
            if with_pkey:
                proj.append(F.col(self.pc).cast("string").alias("_pkey"))
            out = out.select(*proj)
        else:
            # S30 spec-evolved table: pointers span partition specs,
            # so the dirs do NOT share one layout. Scan each spec
            # group separately (same basePath — that group's spec col
            # and v come back from directory parsing; every OTHER
            # spec's column is an ordinary data column in these
            # files) and union the groups by name. The group's
            # dir-parsed column is cast to its declared physical
            # type, so both sides of the union agree exactly.
            groups: dict[str, list[tuple[str, int]]] = {}
            for key, pv in sorted(manifest.items()):
                col, val = self._split_key(doc, key)
                groups.setdefault(col, []).append((val, pv))
            ptypes = {
                f.name: f.dataType
                for f in self._physical_read_schema(
                    [doc], exclude=frozenset()
                ).fields
            }
            # S30b: a COMPOSITE spec's column is synthetic — derived at
            # write, materialized only as directory names, absent from
            # every file and from the table schema. Its group drops it
            # right here (after _pkey): carrying it into the union
            # would mismatch old-spec groups, whose files never had it.
            synth = {
                s["col"] for s in self._doc_specs(doc) if s.get("fields")
            }
            frames = []
            for col, items in sorted(groups.items()):
                gdirs = [
                    self._pdir(val, pv, spec_col=col) for val, pv in items
                ]
                with _no_partition_inference(spark):
                    g = (
                        spark.read.option("basePath", self.data)
                        .schema(
                            self._physical_read_schema([doc], exclude={col})
                        )
                        .parquet(*gdirs)
                    )
                # ONE fused projection per group (r13 — same reasoning
                # as the un-evolved branch above): _pkey is the
                # qualified manifest key of the physical partition this
                # row lives in (raw directory string — the caller
                # disables partition-type inference); a synthetic
                # composite column is dropped, a real one is cast to
                # its declared physical type so the union agrees.
                gproj = []
                for c in g.columns:
                    if c == "v" or (c == col and col in synth):
                        continue
                    if c == col:
                        gproj.append(F.col(c).cast(ptypes[c]).alias(c))
                    else:
                        gproj.append(F.col(c))
                if with_pkey:
                    gproj.append(
                        F.concat(
                            F.lit(f"{col}="), F.col(col).cast("string")
                        ).alias("_pkey")
                    )
                frames.append(g.select(*gproj))
            out = frames[0]
            for g in frames[1:]:
                out = out.unionByName(g)
        if manifest:
            alldels = doc.get("deletes", [])
            dels = [e for e in alldels if e.get("kind") != "eq"]
            eqs = [e for e in alldels if e.get("kind") == "eq"]
            if dels:
                ddirs = [self._ddir(e["id"]) for e in dels]
                ddf = spark.read.parquet(*ddirs).select("_rv", "_rid")
                # Broadcast only while the accumulated delete set is
                # genuinely small (the merge-on-read premise). On-disk
                # parquet bytes are a cheap, job-free proxy; past the
                # threshold fall back to a plain anti-join and let AQE
                # pick the strategy — an unconditional broadcast of a
                # multi-GB delete set would OOM every executor at
                # 100 TB. compact() is the real fix for a set that
                # large; this keeps reads correct in the meantime.
                dbytes = self._deletes_total_bytes(dels)
                if dbytes <= self.BROADCAST_DELETES_MAX_BYTES:
                    ddf = F.broadcast(ddf)
                out = out.join(ddf, ["_rv", "_rid"], "left_anti")
            # S31 equality deletes: anti-join each key set on its
            # PHYSICAL column (present pre-projection in every scan
            # path), sequence-guarded by _rv < entry id — rows written
            # at or after the delete survive (Iceberg's eq-delete
            # scoping). Keys were stored at delete-time logical type;
            # cast to the scan's physical type so widen_column
            # composes (lossless up-cast). Same per-entry broadcast
            # threshold as position deletes.
            scan_types = {f.name: f.dataType for f in out.schema.fields}
            for e in eqs:
                phys = e["col"]
                kdf = (
                    spark.read.parquet(self._ddir(e["id"]))
                    .select(
                        F.col(phys)
                        .cast(scan_types[phys])
                        .alias("__eq_key")
                    )
                )
                if e["bytes"] <= self.BROADCAST_DELETES_MAX_BYTES:
                    kdf = F.broadcast(kdf)
                out = out.join(
                    kdf,
                    (F.col(phys) == F.col("__eq_key"))
                    & (F.col("_rv") < F.lit(int(e["id"]))),
                    "left_anti",
                )
            if cm is not None:
                # project the manifest's LOGICAL schema through the
                # physical mapping: renamed columns come back under
                # their current logical name, added columns read NULL
                # from files that predate them, dropped columns vanish
                schema = StructType.fromJson(json.loads(doc["schema"]))
                scan_cols = set(out.columns)
                dflts = doc.get("defaults") or {}
                proj = []
                for f in schema.fields:
                    phys = cm.get(f.name, f.name)
                    if phys in scan_cols:
                        # cast to the manifest type: files written
                        # before a widen_column carry the narrower
                        # physical type (S29 — widening is metadata-
                        # only, a lossless up-cast at read)
                        expr = F.col(phys).cast(f.dataType)
                        if f.name in dflts:
                            # add-column initial default (Iceberg v3):
                            # substituted for exactly the rows whose
                            # write version predates the add — a
                            # post-add row explicitly written NULL
                            # stays NULL (``_rv`` is the write
                            # version, stored in the files)
                            d = dflts[f.name]
                            expr = F.when(
                                F.col("_rv") < F.lit(int(d["since"])),
                                F.lit(d["value"]).cast(f.dataType),
                            ).otherwise(expr)
                        proj.append(expr.alias(f.name))
                    else:
                        proj.append(F.lit(None).cast(f.dataType).alias(f.name))
                if with_pkey:
                    proj.append(F.col("_pkey"))
                out = out.select(*proj, "_rv", "_rid")
            if not keep_hidden:
                out = out.drop("_rv", "_rid")
        if where is not None:
            out = out.filter(F.col(where[0]).between(where[1], where[2]))
        if where_eq is not None:
            # residual exactness: pruning only drops directories that
            # CANNOT hold the value; kept ones still filter row-level
            out = out.filter(F.col(where_eq[0]) == F.lit(where_eq[1]))
        return out
