"""Manifest-based commit log: the object-store-safe idempotent sink.

:mod:`~.txn`'s ``table_lock`` closes the anti-join/append race with a
kernel ``flock`` mutex — sound on a POSIX host (or NFSv4 share), but
S3-class stores have no lock namespace at all, so a mutex cannot be
built from their filesystem API. This module is the protocol that CAN be
built there, the same one Delta Lake and Iceberg use: an ordered log
of numbered commit files, each listing the data files it adds, decided
by a single **put-if-absent** primitive.

- A data file is INVISIBLE until a commit file references it; readers
  resolve the table as "union of files named by commits 0..N".
- Writers are optimistic: snapshot the log, anti-join against the
  snapshot's keys, stage new files under a unique name, then try to
  put ``_commits/<N+1>.json``. Exactly one writer wins each number;
  losers re-validate against the commits they lost to (retry without
  re-staging when key sets don't overlap — Delta's conflict
  resolution — and re-stage only on a genuine PK conflict).
- Put-if-absent here is ``os.link`` (atomic one-winner on POSIX); on
  S3 it is a conditional PUT (``If-None-Match: *``), on GCS a
  generation-0 precondition, on Azure an ETag condition. Nothing else
  in the protocol touches the namespace, which is the whole point.

Each commit records the distinct ``reading_date`` values of the rows
it adds, so the existing-keys scan prunes to commits whose dates
overlap the incoming batch — the manifest equivalent of partition
pruning (Delta's per-file ``partitionValues``), keeping the key scan
proportional to the batch's time range on a 100 TB table.

The reference's guarantee being reproduced is the same PRIMARY KEY
``ON CONFLICT DO NOTHING`` (consumer/meter_consumer.py:104-114); this
is its shape for deployments where the sink is an object store.

Beyond insert-only, the table supports COPY-ON-WRITE mutations
(:meth:`ManifestTable.delete_keys`, :meth:`ManifestTable.upsert` — the
Delta MERGE/DELETE shape): affected files are rewritten minus/with the
matched rows, and one commit atomically lists the rewrites as
``added`` and the originals as ``removed``. Data files are never
modified IN PLACE, so historical versions stay readable; removed
files become vacuumable once compaction nets them out of the log.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COMMITS_DIRNAME = "_commits"
DATA_DIRNAME = "_data"
REFS_DIRNAME = "_refs"
BRANCHES_DIRNAME = "_commits_branches"

PK = ["reading_timestamp", "meter_id"]


class CommitConflictError(RuntimeError):
    """Raised when a writer exhausts its retries losing commit races."""


class _SnapshotAdvancedError(RuntimeError):
    """Internal: a fence-pinned mutation found the table advanced past
    the snapshot its batch was derived from — the caller must
    re-derive (re-enrich / re-filter) against the new image and try
    again. Never escapes the public API: :meth:`upsert_partial` and
    :meth:`upsert_if_newer` catch it inside their own retry loops."""


class PendingTombstonesError(RuntimeError):
    """Raised when a physical-rewrite operation (CoW mutation,
    OPTIMIZE, RESTORE) runs over unapplied merge-on-read tombstones —
    those paths read data files raw and would resurrect
    logically-deleted rows. Run :func:`apply_tombstones` first."""


def _put_if_absent(path: str, payload: bytes) -> bool:
    """Atomically create ``path`` with ``payload`` iff it doesn't
    exist. One winner among concurrent callers; losers get False.
    POSIX: hard-link a unique temp file onto the target (link(2) fails
    with EEXIST if the name is taken). Object stores: conditional PUT.
    """
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    try:
        with open(tmp, "wb") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    except FileNotFoundError:
        # The parent dir itself vanished mid-call (a namespace race —
        # e.g. a legacy swap-style compaction). Treat as a lost race —
        # the caller revalidates against the current log and retries —
        # instead of leaking the exception (and the staged parquet)
        # out of idempotent_append.
        return False
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


class ManifestTable:
    """A parquet table whose visible contents are decided by the
    commit log, with a PK-idempotent optimistic append."""

    def __init__(
        self,
        table_dir: str,
        stats_columns: list[str] | None = None,
        constraints: list[dict] | None = None,
        bloom_columns: list[str] | None = None,
        dict_columns: list[str] | None = None,
    ) -> None:
        self.table_dir = table_dir
        # Columns whose per-file [min, max] footers are recorded in
        # every commit for metadata-only file skipping. Iceberg keeps
        # stats for every column; recording a chosen few keeps commit
        # payloads O(files × chosen), which is the right trade at a
        # 100 TB file count. Default: the reference PK's meter_id.
        self.stats_columns = (
            list(stats_columns) if stats_columns else [self.STATS_COLUMN]
        )
        # Write-time CHECK constraints (Delta invariants): a list of
        # ROW-PREDICATE expectation dicts (operators/expectations.py
        # shapes: not_null / non_negative / accepted_values /
        # in_range). Every append/upsert batch is screened in ONE
        # conditional-sum aggregate BEFORE anything stages; a
        # violating batch raises and nothing commits. Row-local by
        # design — uniqueness is the PK protocol's job and FKs are
        # query-time checks (run_expectations), exactly Delta's split.
        self.constraints = list(constraints) if constraints else []
        # Optional per-file BLOOM FILTER index (Delta's bloom filter
        # index / Iceberg puffin blobs): for each named INTEGER
        # column, every commit records a {BLOOM_BITS}-bit bitmap of
        # the file's values. Min/max stats cannot skip POINT lookups
        # on an unclustered table (every file's range overlaps every
        # key); the bloom can — a restatement of a handful of keys
        # prunes its candidate scan to ~the files that truly contain
        # them, from metadata alone. Off by default (costs one column
        # read per staged file at write time).
        self.bloom_columns = list(bloom_columns) if bloom_columns else []
        # Optional per-file DICTIONARY index for low-cardinality
        # STRING columns (the string complement of the Bloom index —
        # zone maps and blooms are numeric-only here): every commit
        # records the file's sorted distinct-value list when it has
        # ≤ DICT_MAX_VALUES distinct values, and a read's
        # ``where_in={col: [...]}`` skips files whose recorded
        # dictionary is disjoint from the lookup set. Rides the SAME
        # commit channel as the blooms (one membership-index map per
        # file, value type selects the encoding: hex bitmap = bloom,
        # list = dictionary), so every metadata carry-through path —
        # log compaction, clone, branch publish, MoR reorg, retention
        # rewrite — preserves it with zero extra code.
        self.dict_columns = list(dict_columns) if dict_columns else []
        self.commits_dir = os.path.join(table_dir, COMMITS_DIRNAME)
        self.data_dir = os.path.join(table_dir, DATA_DIRNAME)
        self.refs_dir = os.path.join(table_dir, REFS_DIRNAME)
        self._recover_interrupted_compaction()
        os.makedirs(self.commits_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        # Table config DURABILITY (round 9): stats/bloom columns and
        # constraints are table properties, not per-process options —
        # a maintenance job reopening the table bare must not silently
        # OPTIMIZE with the default stats column and lose the
        # configured skipping index. Explicitly-passed config is
        # persisted (ALTER-TABLE-SET semantics, atomic rename); a bare
        # open loads the persisted config.
        cfg_path = os.path.join(table_dir, "_table.json")
        explicit = {
            k: v
            for k, v in (
                ("stats_columns", stats_columns),
                ("bloom_columns", bloom_columns),
                ("dict_columns", dict_columns),
                ("constraints", constraints),
            )
            if v
        }
        persisted: dict = {}
        if os.path.exists(cfg_path):
            try:
                with open(cfg_path) as fh:
                    persisted = json.load(fh)
            except (OSError, ValueError):
                persisted = {}
        if not stats_columns and persisted.get("stats_columns"):
            self.stats_columns = list(persisted["stats_columns"])
        if not bloom_columns and persisted.get("bloom_columns"):
            self.bloom_columns = list(persisted["bloom_columns"])
        if not dict_columns and persisted.get("dict_columns"):
            self.dict_columns = list(persisted["dict_columns"])
        if not constraints and persisted.get("constraints"):
            self.constraints = list(persisted["constraints"])
        want = {
            "stats_columns": self.stats_columns,
            "bloom_columns": self.bloom_columns,
            "dict_columns": self.dict_columns,
            "constraints": self.constraints,
        }
        if explicit and {
            k: persisted.get(k) for k in want
        } != want:
            tmp = cfg_path + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as fh:
                # merge, don't replace: other persisted sections
                # (e.g. ANALYZE statistics) survive a reopen that
                # pins skipping config explicitly
                json.dump({**persisted, **want}, fh)
            os.replace(tmp, cfg_path)
        os.makedirs(self.refs_dir, exist_ok=True)
        # Test seam: invoked between validation/staging and the
        # publish attempt, so tests can deterministically land a
        # competing commit in the exact window the optimistic
        # protocol must survive. Never set in production.
        self._pre_publish_hook = None

    def _recover_interrupted_compaction(self) -> None:
        """Crash recovery for the non-renameat2 compaction fallback: a
        crash between ``rename(commits, old)`` and
        ``rename(new, commits)`` leaves NO commits dir and a stranded
        ``.old`` dir. Without recovery, ``makedirs`` would recreate an
        EMPTY log — the table silently reads as empty and a later
        vacuum deletes every data file as unreferenced. Restore the
        displaced log before anything else touches the table; the
        in-flight compaction is simply lost, which is the safe
        outcome."""
        old = self.commits_dir + ".old"
        commits_missing_or_empty = not os.path.isdir(self.commits_dir) or not any(
            n.endswith(".json") for n in os.listdir(self.commits_dir)
        )
        if commits_missing_or_empty and os.path.isdir(old):
            if not os.path.isdir(self.commits_dir):
                os.rename(old, self.commits_dir)
            else:
                # commits dir exists but holds no commits (stray tmp
                # files at most): move the displaced log's entries in
                # file-by-file, then drop the stranded dir.
                for n in os.listdir(old):
                    if n.endswith(".json"):
                        os.rename(
                            os.path.join(old, n),
                            os.path.join(self.commits_dir, n),
                        )
                shutil.rmtree(old, ignore_errors=True)

    # -- log ---------------------------------------------------------------

    def _commit_path(self, version: int) -> str:
        return os.path.join(self.commits_dir, f"{version:010d}.json")

    def snapshot(self) -> list[dict]:
        """All commits in log order. Listing then reading is safe
        because commit files are immutable once created."""
        return [c for _, c in self.numbered_snapshot()]

    def numbered_snapshot(self) -> list[tuple[int, dict]]:
        """(commit number, payload) in log order. Numbers are stable
        identifiers: once a commit lands, its number never changes —
        compaction keeps the tail's numbers and reuses only number 0
        for the merged base. They are NOT dense after a compaction
        (gaps where merged commits used to be); positional APIs
        (read(version=), diff, history) index the current log order,
        numbers anchor the optimistic-append fence."""
        return self._read_log(self.commits_dir)

    @staticmethod
    def _read_log(log_dir: str) -> list[tuple[int, dict]]:
        """Read one numbered commit-log directory (the main log or a
        branch log — same file format, same immutability rules)."""
        for attempt in range(40):
            try:
                names = sorted(
                    n
                    for n in os.listdir(log_dir)
                    if n.endswith(".json")
                )
                out = []
                for n in names:
                    with open(os.path.join(log_dir, n)) as fh:
                        out.append((int(n[: -len(".json")]), json.load(fh)))
                return out
            except FileNotFoundError:
                # Momentarily missing dir (the non-renameat2 compaction
                # fallback is between its two renames), or a listed
                # commit file was compacted away between the listing
                # and the open. The window is microseconds; re-list
                # rather than misreading the table as empty (which
                # would reset the append fence).
                if attempt == 39:
                    raise
                time.sleep(0.05)

    def next_commit_number(self) -> int:
        """max existing number + 1 — MONOTONE across compactions
        (len() is not, once compaction leaves gaps), which is what
        keeps the append's publish-then-validate race sound: any
        commit that lands after a writer's validation fence must take
        a number >= that fence, so put_if_absent failing is the ONLY
        way to miss concurrent content."""
        nums = [
            int(n[: -len(".json")])
            for n in os.listdir(self.commits_dir)
            if n.endswith(".json")
        ]
        return (max(nums) + 1) if nums else 0

    def _files(self, commits: list[dict], dates: set[str] | None = None) -> list[str]:
        """Absolute LIVE data-file paths after replaying ``commits`` in
        log order: each commit's ``removed`` list (copy-on-write
        delete/upsert) drops files earlier commits added, then its
        ``added`` files join the set. When ``dates`` is given, commits
        whose recorded dates don't overlap contribute no ADDS — but
        their REMOVALS always apply (skipping a removal would read a
        deleted file back into existence; date pruning is an add-side
        optimization only). A commit with an EMPTY or missing dates
        list overlaps every probe: empty means "dates unknown" (a
        table written before the column existed, or rows with NULL
        dates), and the safe direction for unknown is contribute-adds
        — skipping would let a dated dedup anti-join miss those
        files' keys and re-admit duplicates. Path-deduped: during an
        in-place log
        compaction (or after a crash mid-compaction) the merged base
        and a not-yet-unlinked merged commit can both name the same
        file — it must be read once, not twice."""
        files: dict[str, None] = {}
        for c in commits:
            for f in c.get("removed", []):
                files.pop(os.path.join(self.data_dir, f), None)
            c_dates = set(c.get("dates") or ())
            if dates is not None and c_dates and not (c_dates & dates):
                continue
            for f in c["added"]:
                files[os.path.join(self.data_dir, f)] = None
        return list(files)

    def _net_relfiles(self, commits: list[dict]) -> list[str]:
        """Data-dir-relative live files after replaying ``commits`` —
        the compaction-base form of :meth:`_files`."""
        return [
            os.path.relpath(p, self.data_dir)
            for p in self._files(commits)
        ]

    # -- read --------------------------------------------------------------

    def version_asof(self, ts: float) -> int:
        """TIMESTAMP AS OF resolution (Delta semantics): the latest
        positional version whose commit landed at or before ``ts``.
        Commits written before timestamp tracking fall back to the
        commit file's mtime. Raises when ``ts`` predates the first
        commit (nothing existed to read), matching Delta's
        `timestampAsOf` error contract."""
        best = None
        for i, (num, c) in enumerate(self.numbered_snapshot()):
            at = c.get("committed_at")
            if at is None:
                try:
                    at = os.path.getmtime(self._commit_path(num))
                except OSError:
                    continue
            if at <= ts:
                best = i
        if best is None:
            raise ValueError(
                f"timestamp {ts} predates the first commit of "
                f"{self.table_dir}"
            )
        return best

    # -- tags (named immutable refs — Delta/Iceberg savepoint parity) ------

    _TAG_NAME_RE = re.compile(r"^[A-Za-z0-9._-]{1,64}$")

    def create_tag(self, name: str, version: int | None = None) -> dict:
        """Tag a version (default: the current one) with an immutable
        named ref. Tags pin the commit's stable NUMBER, not its log
        position, so they survive compaction renumbering-free;
        resolving a tag whose commit was later merged into the
        compaction base fails with a clear error — the same
        granularity loss Delta accepts after log cleanup. Creation is
        put-if-absent: tags are immutable (delete then re-create to
        move one), and concurrent same-name creators get one winner."""
        if not self._TAG_NAME_RE.match(name or ""):
            raise ValueError(
                f"bad tag name {name!r}: use 1-64 chars of [A-Za-z0-9._-]"
            )
        numbered = self.numbered_snapshot()
        if not numbered:
            raise ValueError(f"cannot tag an empty table: {self.table_dir}")
        if version is None:
            version = len(numbered) - 1
        if version < 0 or version >= len(numbered):
            raise ValueError(
                f"version {version} out of range: table has "
                f"{len(numbered)} commits"
            )
        payload = {
            "name": name,
            "commit_number": numbered[version][0],
            "created_at": time.time(),
        }
        path = os.path.join(self.refs_dir, f"{name}.json")
        if not _put_if_absent(path, json.dumps(payload).encode()):
            raise ValueError(
                f"tag {name!r} already exists (tags are immutable — "
                "delete_tag then re-create to move one)"
            )
        return payload

    def list_tags(self) -> list[dict]:
        out = []
        for n in sorted(os.listdir(self.refs_dir)):
            if n.endswith(".json"):
                with open(os.path.join(self.refs_dir, n)) as fh:
                    out.append(json.load(fh))
        return out

    def delete_tag(self, name: str) -> None:
        path = os.path.join(self.refs_dir, f"{name}.json")
        try:
            os.unlink(path)
        except FileNotFoundError:
            raise ValueError(f"no such tag: {name!r}") from None

    def version_of_tag(self, name: str) -> int:
        """Positional version a tag resolves to in the CURRENT log."""
        path = os.path.join(self.refs_dir, f"{name}.json")
        try:
            with open(path) as fh:
                payload = json.load(fh)
        except FileNotFoundError:
            raise ValueError(f"no such tag: {name!r}") from None
        num = payload["commit_number"]
        for i, (n, _) in enumerate(self.numbered_snapshot()):
            if n == num:
                return i
        raise ValueError(
            f"tag {name!r} points at commit number {num}, which is not "
            "addressable in the current log (a foreign/stale ref — the "
            "in-protocol compaction never merges tagged commits)"
        )

    # -- branches ----------------------------------------------------------
    #
    # A branch is a MUTABLE named ref plus its own numbered commit log
    # (Iceberg branch refs / the Write-Audit-Publish workflow): the
    # branch's visible table = the main log frozen at the base commit
    # number, followed by the branch's own commits. Data files are
    # shared with the main table (immutable, uuid-staged — exactly the
    # shallow-clone sharing argument), so branching is a metadata-only
    # operation at any table size; only the branch's NEW writes cost
    # bytes. Publishing is a SQUASH fast-forward: the branch's net
    # file effect lands on main as one optimistic commit, so there is
    # no partial-publish state to reason about.

    def _branch_refs_dir(self) -> str:
        return os.path.join(self.refs_dir, "branches")

    def _branch_log_dir(self, name: str) -> str:
        return os.path.join(self.table_dir, BRANCHES_DIRNAME, name)

    def create_branch(self, name: str, version: int | None = None) -> dict:
        """Fork a writable branch at ``version`` (default: head).
        Metadata-only: records {name, base commit NUMBER} put-if-absent
        (one winner under concurrent same-name creators) and creates an
        empty branch log. The base is pinned by stable commit number —
        compaction treats branch bases as GC roots exactly like tags,
        so the frozen prefix a branch reads can never be silently
        widened by a base merge that swallows newer commits."""
        if not self._TAG_NAME_RE.match(name or ""):
            raise ValueError(
                f"bad branch name {name!r}: use 1-64 chars of [A-Za-z0-9._-]"
            )
        numbered = self.numbered_snapshot()
        if not numbered:
            raise ValueError(
                f"cannot branch an empty table: {self.table_dir}"
            )
        if version is None:
            version = len(numbered) - 1
        if version < 0 or version >= len(numbered):
            raise ValueError(
                f"version {version} out of range: table has "
                f"{len(numbered)} commits"
            )
        payload = {
            "name": name,
            "base_commit_number": numbered[version][0],
            "created_at": time.time(),
        }
        os.makedirs(self._branch_refs_dir(), exist_ok=True)
        path = os.path.join(self._branch_refs_dir(), f"{name}.json")
        if not _put_if_absent(path, json.dumps(payload).encode()):
            raise ValueError(f"branch {name!r} already exists")
        os.makedirs(self._branch_log_dir(name), exist_ok=True)
        return payload

    def list_branches(self) -> list[dict]:
        refs = self._branch_refs_dir()
        if not os.path.isdir(refs):
            return []
        out = []
        for n in sorted(os.listdir(refs)):
            if n.endswith(".json"):
                with open(os.path.join(refs, n)) as fh:
                    out.append(json.load(fh))
        return out

    def branch(self, name: str) -> "ManifestBranch":
        path = os.path.join(self._branch_refs_dir(), f"{name}.json")
        try:
            with open(path) as fh:
                ref = json.load(fh)
        except FileNotFoundError:
            raise ValueError(f"no such branch: {name!r}") from None
        return ManifestBranch(self, name, ref["base_commit_number"])

    def delete_branch(self, name: str) -> None:
        """Drop the ref and the branch log. Branch-only data files
        become unreferenced and the next vacuum sweeps them — the
        audit-failed half of Write-Audit-Publish."""
        path = os.path.join(self._branch_refs_dir(), f"{name}.json")
        try:
            os.unlink(path)
        except FileNotFoundError:
            raise ValueError(f"no such branch: {name!r}") from None
        shutil.rmtree(self._branch_log_dir(name), ignore_errors=True)

    # -- identity columns --------------------------------------------------
    #
    # GENERATED ALWAYS AS IDENTITY, the object-store way (Delta
    # identity columns): uniqueness comes from a put-if-absent RANGE
    # allocation — one winner per allocation file, zero coordination
    # at write time — and the per-row values inside a claimed range
    # come from the distributed row-number kit (no single-partition
    # window anywhere). Ids are unique and monotone per allocation
    # but NOT dense: a batch that deduplicates away after claiming
    # its range leaves a gap, exactly the gap semantics Delta
    # documents (and the price of lock-free allocation at 1000
    # concurrent writers).

    def _identity_dir(self) -> str:
        return os.path.join(self.refs_dir, "identity")

    def identity_high_water(self) -> int:
        """First unallocated id (0 on a fresh sequence)."""
        d = self._identity_dir()
        if not os.path.isdir(d):
            return 0
        names = sorted(n for n in os.listdir(d) if n.endswith(".json"))
        if not names:
            return 0
        with open(os.path.join(d, names[-1])) as fh:
            last = json.load(fh)
        return int(last["base"]) + int(last["count"])

    def allocate_identity_range(self, n: int, max_retries: int = 40) -> int:
        """Claim ``[base, base+n)`` from the table's identity
        sequence. The allocation file is numbered like a commit and
        published put-if-absent, so concurrent allocators get
        disjoint ranges without a lock; losing the race costs one
        re-list. The range is claimed BEFORE the data commits — a
        failed or fully-duplicate append simply burns the range."""
        if n <= 0:
            raise ValueError(f"allocation size must be positive, got {n}")
        d = self._identity_dir()
        os.makedirs(d, exist_ok=True)
        for _ in range(max_retries):
            names = sorted(
                x for x in os.listdir(d) if x.endswith(".json")
            )
            if names:
                with open(os.path.join(d, names[-1])) as fh:
                    last = json.load(fh)
                base = int(last["base"]) + int(last["count"])
                nxt = int(names[-1][: -len(".json")]) + 1
            else:
                base, nxt = 0, 0
            payload = json.dumps(
                {"base": base, "count": n, "created_at": time.time()}
            ).encode()
            if _put_if_absent(
                os.path.join(d, f"{nxt:010d}.json"), payload
            ):
                return base
        raise CommitConflictError(
            f"gave up after {max_retries} identity allocations on "
            f"{self.table_dir}"
        )

    def append_with_identity(
        self,
        spark: SparkSession,
        batch: DataFrame,
        id_col: str = "row_id",
        pk: list[str] = PK,
        order_cols: list[str] | None = None,
        max_retries: int = 20,
    ) -> int:
        """PK-idempotent append that assigns ``id_col`` from the
        identity sequence: ids = claimed base + the batch's
        distributed row number ordered by ``order_cols`` (default:
        the pk — any total order works; a deterministic one makes
        the assignment reproducible). The id computation is the
        range-partitioned two-pass prefix sum
        (operators/common.py distributed_row_number) — no
        ``Exchange SinglePartition`` at any batch size. Returns rows
        written; duplicate rows dropped by the append leave their
        claimed ids as gaps."""
        from smart_meter_data_pipeline_spark.operators.common import (
            distributed_row_number,
        )

        if id_col in batch.columns:
            raise ValueError(
                f"{id_col!r} is GENERATED ALWAYS AS IDENTITY — the "
                "batch must not supply it"
            )
        clean = batch.dropDuplicates(pk)
        n = clean.count()
        if n == 0:
            return 0
        base = self.allocate_identity_range(n)
        order_cols = order_cols or pk
        withid = distributed_row_number(
            clean, order_cols, "_idn"
        ).withColumn(
            id_col,
            (F.lit(base).cast("bigint") + F.col("_idn")).cast("bigint"),
        ).drop("_idn")
        return self.idempotent_append(
            spark, withid, pk=pk, max_retries=max_retries
        )

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        dates: list | None = None,
        asof: float | None = None,
        tag: str | None = None,
        where: dict | None = None,
        where_in: dict | None = None,
    ) -> DataFrame | None:
        """The committed table contents (None when no commits yet).

        ``where_in`` — Bloom point-lookup skipping on the READ path:
        ``{col: [v, ...]}`` membership sets. Files whose per-file
        Bloom index excludes EVERY value of some set are never opened
        (and the set's [min, max] additionally feeds the zone-map
        prune), with ``col IN (...)`` applied row-level on top. This
        is the needle-in-haystack complement to ``where``: zone maps
        skip CLUSTERED layouts, blooms skip point lookups on
        UNCLUSTERED ones (hash-sharded files whose min/max ranges all
        overlap but whose memberships are disjoint). Same soundness
        argument as ``where`` — immutable files, recorded indexes
        bound actual contents, row filter provides the semantics.

        ``where`` — zone-map data skipping on the READ path:
        ``{col: (lo, hi)}`` inclusive ranges (ints or timestamps;
        either bound None for open-ended). Files whose recorded
        per-file [min, max] for ANY named column is disjoint from its
        range are never opened, and the row-level filter is applied on
        top, so the result ALWAYS equals ``read().filter(...)`` —
        stats skipping is an IO optimization, never the correctness
        filter. Unlike mutation pruning (pk-only, round-9 rule), read
        pruning may use ANY stats column: data files are immutable and
        their recorded stats bound their actual contents, so a
        read-side skip can never hide a row the predicate matches —
        the mutation hazard (a restatement CHANGING a non-key value
        out from under the batch's range) does not exist when nothing
        is rewritten. This is the scan-pruning half of the clustering
        story: OPTIMIZE (ZORDER) narrows per-file ranges exactly so
        that these reads open O(matching) files instead of all of
        them.

        ``dates`` prunes at the FILE level from commit metadata — the
        manifest's partition pruning: only files added by commits
        whose recorded dates overlap are read (removals still apply
        globally), so a one-day incremental read of a 10-year table
        costs one directory listing plus that day's files. File-level
        means over-approximate: a file mixing dates contributes all
        its rows — callers filter rows; the pruning bounds IO, not
        row membership.

        ``version`` time-travels: the table AS OF commit ``version``
        (inclusive — ``version=0`` is the first commit's view). Commit
        files are immutable and data files are never rewritten, so any
        historical snapshot remains readable until a vacuum deletes
        unreferenced-and-expired files — the same versioned-manifest
        contract Delta/Iceberg time travel rests on.

        Schema evolution: the read schema is the union of the visible
        commits' recorded schemas in log order (additive evolution —
        files written before a column existed read it as NULL).
        Taking the schema from COMMIT METADATA, not from merging
        parquet footers, is what makes the evolved read free at scale:
        ``mergeSchema`` touches every file's footer, the log is one
        directory listing.

        ``asof`` (unix seconds) is TIMESTAMP AS OF: resolved to the
        latest version committed at or before that instant via
        :meth:`version_asof`, then read as a version time-travel.
        ``tag`` reads a named ref (:meth:`create_tag`). version /
        asof / tag are mutually exclusive."""
        n_selectors = sum(x is not None for x in (version, asof, tag))
        if n_selectors > 1:
            raise ValueError("pass at most one of version / asof / tag")
        if asof is not None:
            version = self.version_asof(asof)
        if tag is not None:
            version = self.version_of_tag(tag)
        numbered = self.numbered_snapshot()
        if version is not None:
            if version < 0 or version >= len(numbered):
                raise ValueError(
                    f"version {version} out of range: table has "
                    f"{len(numbered)} commits"
                )
            numbered = numbered[: version + 1]
        commits = [c for _, c in numbered]
        files = self._files(
            commits,
            {str(d) for d in dates} if dates is not None else None,
        )
        schema = self._evolved_schema(commits)
        if not files:
            # No commits at all → None (table never written). Commits
            # with a recorded schema but zero live files (everything
            # deleted) → an EMPTY frame: the table exists and has a
            # shape, exactly like SELECT * FROM t after DELETE.
            if commits and schema is not None:
                return spark.createDataFrame([], schema)
            return None
        row_filters = []
        if where or where_in:
            key_ranges = {}
            for col, (lo, hi) in (where or {}).items():
                # open-ended bounds become int sentinels (wider than
                # any epoch-micros or bigint stat) so the column still
                # prunes on its bounded side
                key_ranges[col] = (
                    lo if lo is not None else -(2**62),
                    hi if hi is not None else 2**62,
                )
                if lo is not None:
                    row_filters.append(F.col(col) >= F.lit(lo))
                if hi is not None:
                    row_filters.append(F.col(col) <= F.lit(hi))
            for col, vals in (where_in or {}).items():
                vals = [v for v in vals if v is not None]
                row_filters.append(F.col(col).isin(vals))
                if vals and col not in key_ranges:
                    key_ranges[col] = (min(vals), max(vals))
            files = self._prune_by_stats(files, commits, key_ranges)
            if where_in:
                files = self._prune_by_bloom(
                    files,
                    commits,
                    {
                        c: [v for v in vs if v is not None]
                        for c, vs in where_in.items()
                    },
                )
                # Posting-index consultation (round 12): a CURRENT
                # read whose where_in column carries a secondary
                # index intersects with the index's exact candidate
                # set — point reads through the STANDARD read path
                # get posting-exact pruning, no dedicated API needed.
                # Current-only: time-travel snapshots must not
                # consult it (vacuum_index keeps postings only for
                # currently-live files). Lazy import keeps the
                # module dependency one-way (index -> manifest).
                if version is None:
                    files = self._prune_by_posting_index(
                        spark, files, where_in, numbered
                    )
            if not files:
                if schema is not None:
                    return spark.createDataFrame([], schema)
                # legacy table without recorded schemas: derive it
                # from one original file; the row filter empties it
                files = self._files(commits)[:1]
        # Pending merge-on-read tombstones (delete_keys_mor) anti-join
        # onto exactly the files they govern; a tombstone-free table
        # takes the plain one-reader path inside.
        df = self._read_files_with_tombstones(
            spark, numbered, files, schema
        )
        for f in row_filters:
            df = df.filter(f)
        return df

    @staticmethod
    def _evolved_schema(commits: list[dict]):
        """Union of the commits' recorded schemas in log order (later
        commits append new columns; a name seen twice keeps its first
        type — additive evolution only, type changes are rejected at
        append time), minus any columns a ``drop_columns`` marker
        commit removed (ALTER TABLE DROP COLUMN — metadata-only:
        bytes stay in the files, readers stop selecting them;
        time travel to a pre-drop version still sees the column, and
        a later append may re-introduce the name, possibly with a new
        type). None when no commit recorded a schema (tables written
        before schema tracking — reader falls back to Spark's own
        parquet inference)."""
        from pyspark.sql.types import StructType

        fields: dict[str, object] = {}
        for c in commits:
            for name in c.get("drop_columns", []):
                fields.pop(name, None)
            if not c.get("schema"):
                continue
            st = StructType.fromJson(json.loads(c["schema"]))
            for f in st.fields:
                fields.setdefault(f.name, f)
        if not fields:
            return None
        return StructType(list(fields.values()))

    def _prune_by_posting_index(
        self,
        spark: SparkSession,
        files: list[str],
        where_in: dict,
        numbered: list[tuple[int, dict]],
    ) -> list[str]:
        """Intersect the candidate files with every consulted
        secondary index's exact candidate set (sources/index.py).
        Only columns that HAVE a refreshed index directory consult
        it; the index set is ``(postings ∩ live) ∪ unindexed``, an
        over-approximation of the files containing the values, so
        intersecting stays sound on the current snapshot.

        Selectivity-aware bypass (round 13): the posting lookup pays
        for itself only when the values live in FEW files. With an
        ANALYZE profile present, estimate the matching rows under the
        planner's uniformity rule (``estimate_read_rows``) — when the
        estimate exceeds ~ln2 rows per live file, the expected
        file-hit fraction is over one half and zone-map/Bloom pruning
        (already applied) is all the read should pay for; skip the
        index consult entirely. No profile → consult (the index was
        built to be used); the consult itself stays bounded via the
        df-cap inside ``index_candidate_files``. Purely a performance
        decision — both branches return a sound candidate superset."""
        for col, vs in where_in.items():
            idx_dir = os.path.join(self.table_dir, "_indexes", col)
            if not os.path.isdir(idx_dir):
                continue
            try:
                est = estimate_read_rows(self, where_in={col: vs})
                # est/F >= ln2 (~2/3) => expected hit fraction > 50%
                if 3 * est["est_rows"] >= 2 * max(1, len(files)):
                    continue
            except ValueError:
                pass  # never analyzed: no estimate, consult the index
            from smart_meter_data_pipeline_spark.sources.index import (
                index_candidate_files,
            )

            cand, _ = index_candidate_files(
                self,
                spark,
                col,
                [v for v in vs if v is not None],
                numbered,
                want_report=False,
            )
            cand_set = set(cand)
            files = [f for f in files if f in cand_set]
            if not files:
                break
        return files

    def skipping_report(
        self,
        where: dict | None = None,
        where_in: dict | None = None,
        spark: SparkSession | None = None,
    ) -> dict:
        """Metadata-only dry run of ``read(where=..., where_in=...)``'s
        file skipping: how many live files the zone maps + blooms keep
        vs skip. The observability half of read-path data skipping —
        tests and the bench assert on it without reading a byte of
        data. Pass ``spark`` to ALSO consult secondary posting
        indexes the way ``read`` does (that part reads the posting
        table, so it is no longer metadata-only — hence opt-in)."""
        numbered = self.numbered_snapshot()
        commits = [c for _, c in numbered]
        files = self._files(commits)
        key_ranges = {
            col: (
                lo if lo is not None else -(2**62),
                hi if hi is not None else 2**62,
            )
            for col, (lo, hi) in (where or {}).items()
        }
        for col, vals in (where_in or {}).items():
            vals = [v for v in vals if v is not None]
            if vals and col not in key_ranges:
                key_ranges[col] = (min(vals), max(vals))
        kept = self._prune_by_stats(files, commits, key_ranges)
        if where_in:
            kept = self._prune_by_bloom(
                kept,
                commits,
                {
                    c: [v for v in vs if v is not None]
                    for c, vs in where_in.items()
                },
            )
            if spark is not None:
                kept = self._prune_by_posting_index(
                    spark, kept, where_in, numbered
                )
        return {
            "files_live": len(files),
            "files_read": len(kept),
            "files_skipped": len(files) - len(kept),
        }

    def history(self) -> list[dict]:
        """Audit view of the commit log: one dict per version with the
        commit's file count and covered dates — the `DESCRIBE HISTORY`
        of the manifest world. Metadata-only (no data read)."""
        return [
            {
                "version": i,
                "n_files": len(c["added"]),
                "n_removed": len(c.get("removed", [])),
                "dates": sorted(c.get("dates", [])),
            }
            for i, c in enumerate(self.snapshot())
        ]

    def diff(
        self, spark: SparkSession, v_from: int, v_to: int
    ) -> DataFrame | None:
        """Change-data feed between two versions: the rows appended by
        commits (``v_from``, ``v_to``] — i.e. ``read(v_to)`` minus
        ``read(v_from)``, computed WITHOUT any anti-join because the
        log is append-only and data files are immutable: the delta is
        exactly the files those commits added, so the read cost scales
        with the CHANGE, not the table (the property CDC consumers —
        incremental mart refresh, downstream sync — rely on at 100 TB).
        ``v_from = -1`` diffs from the empty table. Returns None when
        the range adds no files. With copy-on-write mutations in the
        range, this is the POST-IMAGE feed: an upsert's rewritten
        files appear whole (their unchanged survivor rows included),
        and deletes are visible only through the removed-file
        metadata, not as rows — consumers needing row-level
        delete events should diff metadata via :meth:`history`."""
        commits = self.snapshot()
        if not (-1 <= v_from <= v_to < len(commits)):
            raise ValueError(
                f"bad version range ({v_from}, {v_to}] for "
                f"{len(commits)} commits"
            )
        files = self._files(commits[v_from + 1 : v_to + 1])
        if not files:
            return None
        # Same evolved-schema discipline as read(): the range can span
        # a schema-evolution boundary, and a plain read would infer
        # whichever file Spark samples — non-deterministically dropping
        # later-added columns from the change feed.
        schema = self._evolved_schema(commits[: v_to + 1])
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*files)

    def change_feed(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        pk: list[str] = PK,
    ) -> DataFrame | None:
        """ROW-LEVEL change data feed between two versions — the Delta
        CDF shape: one row per changed row, tagged ``_change_type`` ∈
        {insert, delete, update_preimage, update_postimage}. Computed
        from the SNAPSHOT FILE DIFFERENCE, so the cost scales with the
        CHANGED FILES, not the table: files live in both snapshots are
        immutable and therefore untouched; files only in the old
        snapshot hold candidate pre-images, files only in the new one
        candidate post-images. A full-outer PK join of just those two
        sides classifies every row — and rewritten-survivor rows
        (identical pre/post, an artifact of copy-on-write file
        granularity) are filtered out by comparing the non-PK columns,
        so the feed contains exactly the logical changes.

        Columns are aligned under each side's evolved schema (missing
        columns read as NULL), with the value comparison
        NULL-safe (``<=>``). ``v_from = -1`` diffs from the empty
        table (everything is an insert). Returns None when the
        snapshots share every file. Complements :meth:`diff` (the
        cheaper post-image/file-level feed) — use this one when the
        consumer needs deletes and pre-images.

        Merge-on-read divergence (documented): a pending tombstone
        (:meth:`delete_keys_mor`) moves no files, so its logical
        deletes enter this feed only when :func:`apply_tombstones`
        rewrites the governed files (whose commit's file difference
        then yields exactly those delete rows). Consumers needing
        delete latency below the apply cadence should read the
        tombstone commits' ``removed_dates`` directly."""
        commits = self.snapshot()
        if not (-1 <= v_from <= v_to < len(commits)):
            raise ValueError(
                f"bad version range ({v_from}, {v_to}] for "
                f"{len(commits)} commits"
            )
        live_from = (
            set(self._files(commits[: v_from + 1])) if v_from >= 0 else set()
        )
        live_to = set(self._files(commits[: v_to + 1]))
        pre_files = sorted(live_from - live_to)
        post_files = sorted(live_to - live_from)
        if not pre_files and not post_files:
            return None

        def _read(files, upto):
            if not files:
                return None
            schema = self._evolved_schema(commits[: upto + 1])
            reader = spark.read
            if schema is not None:
                reader = reader.schema(schema)
            return reader.parquet(*files)

        pre = _read(pre_files, v_from if v_from >= 0 else v_to)
        post = _read(post_files, v_to)
        if pre is None:
            return post.withColumn("_change_type", F.lit("insert"))
        if post is None:
            return pre.withColumn("_change_type", F.lit("delete"))
        # align columns across a schema-evolution boundary
        all_cols = list(
            dict.fromkeys([*pre.columns, *post.columns])
        )
        def _pad(df):
            for c in all_cols:
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(None))
            return df.select(*all_cols)
        pre, post = _pad(pre), _pad(post)
        val_cols = [c for c in all_cols if c not in pk]
        p_ = pre.select(
            *[F.col(c).alias(f"__pre_{c}") for c in all_cols]
        )
        q_ = post.select(
            *[F.col(c).alias(f"__post_{c}") for c in all_cols]
        )
        cond = [
            p_[f"__pre_{k}"] == q_[f"__post_{k}"] for k in pk
        ]
        j = p_.join(q_, cond, "full_outer")
        pre_key = F.coalesce(*[p_[f"__pre_{k}"] for k in pk[:1]])
        post_key = F.coalesce(*[q_[f"__post_{k}"] for k in pk[:1]])
        same_vals = (
            F.lit(True)
            if not val_cols
            else None
        )
        if val_cols:
            expr = p_[f"__pre_{val_cols[0]}"].eqNullSafe(
                q_[f"__post_{val_cols[0]}"]
            )
            for c in val_cols[1:]:
                expr = expr & p_[f"__pre_{c}"].eqNullSafe(
                    q_[f"__post_{c}"]
                )
            same_vals = expr
        inserts = j.filter(pre_key.isNull()).select(
            *[q_[f"__post_{c}"].alias(c) for c in all_cols],
            F.lit("insert").alias("_change_type"),
        )
        deletes = j.filter(post_key.isNull()).select(
            *[p_[f"__pre_{c}"].alias(c) for c in all_cols],
            F.lit("delete").alias("_change_type"),
        )
        changed = j.filter(
            pre_key.isNotNull() & post_key.isNotNull() & ~same_vals
        )
        pre_img = changed.select(
            *[p_[f"__pre_{c}"].alias(c) for c in all_cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        post_img = changed.select(
            *[q_[f"__post_{c}"].alias(c) for c in all_cols],
            F.lit("update_postimage").alias("_change_type"),
        )
        return (
            inserts.unionByName(deletes)
            .unionByName(pre_img)
            .unionByName(post_img)
        )

    # -- write -------------------------------------------------------------

    def _stage(self, df: DataFrame) -> list[str]:
        """Write ``df`` under a unique staging prefix; return the
        data-dir-relative parquet file names. Invisible until
        committed."""
        stage_id = uuid.uuid4().hex
        stage_path = os.path.join(self.data_dir, stage_id)
        df.write.parquet(stage_path)
        return [
            os.path.join(stage_id, name)
            for name in os.listdir(stage_path)
            if name.endswith(".parquet")
        ]

    STATS_COLUMN = "meter_id"

    def _footer_rows(self, rel_files: list[str]) -> int:
        """Σ ``num_rows`` over the files' parquet FOOTERS — the
        driver-side (~1ms/file, no Spark job) way to count rows of a
        known file list. Exact: the footer row count is authoritative
        for an immutable file. Used where a count action would re-scan
        data purely for bookkeeping (r14, guide §1.2)."""
        from smart_meter_data_pipeline_spark.sources.ingest import footer_rows

        return footer_rows(os.path.join(self.data_dir, f) for f in rel_files)

    def _recorded_rows(
        self, commits: list[dict], rel_files: list[str]
    ) -> int:
        """Σ rows over ``rel_files`` from the commit log's recorded
        per-file ``"#rows"`` stats (r15, VERDICT r14 #7) — zero I/O
        for any file committed since stats tracking; only files with
        no usable record (legacy ``[min, max]`` entries, pre-stats
        commits) fall back to one footer read each. Exact either way:
        the recorded count came from the same immutable footer."""
        recorded: dict[str, object] = {}
        for c in commits:
            recorded.update(c.get("stats", {}))
        total = 0
        missing: list[str] = []
        for rel in rel_files:
            e = recorded.get(rel)
            if isinstance(e, dict) and isinstance(e.get("#rows"), int):
                total += e["#rows"]
            else:
                missing.append(rel)
        if missing:
            total += self._footer_rows(missing)
        return total

    def _file_stats(self, rel_files: list[str]) -> dict:
        """Per-file ``{column: [min, max, null_count], "#rows": n}``
        over ``stats_columns``, read from the parquet FOOTERS of
        just-staged files — no data scan, ~1ms per file on the
        driver. This is the Delta/Iceberg data-skipping move: the
        commit carries each file's key ranges, so later mutations
        prune their candidate scan from metadata alone, and (round
        11) ``delete_where`` classifies whole-file retention drops
        from the log without reopening any footer: the null count is
        what proves a range-covered file is fully deletable (SQL
        DELETE's three-valued WHERE never matches NULL) and
        ``"#rows"`` prices the drop. Null counts are recorded only
        when EVERY row group reports one (a 2-element ``[min, max]``
        entry means nulls-unknown); a column with min/max missing in
        ANY row group is not recorded at all — an under-covering
        range would make skipping unsound. (Commits written before
        multi-column stats hold the legacy ``{file: [min, max]}``
        shape for the default column — _prune_by_stats reads both.)"""
        import pyarrow.parquet as pq

        wanted = set(self.stats_columns)
        out = {}
        for rel in rel_files:
            md = pq.read_metadata(os.path.join(self.data_dir, rel))
            # name -> [mn, mx, nulls|None]; None key value = dropped
            acc: dict[str, object] = {}
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for j in range(rg.num_columns):
                    col = rg.column(j)
                    name = col.path_in_schema
                    if name not in wanted or acc.get(name, 0) is None:
                        continue
                    s = col.statistics
                    if s is None or not s.has_min_max:
                        acc[name] = None
                        continue
                    nu = s.null_count
                    if name in acc:
                        cur = acc[name]
                        cur[0] = min(cur[0], s.min)
                        cur[1] = max(cur[1], s.max)
                        cur[2] = (
                            None
                            if cur[2] is None or nu is None
                            else cur[2] + nu
                        )
                    else:
                        acc[name] = [s.min, s.max, nu]
            # Stats are an OPTIMIZATION: unsupported column types
            # simply skip file-skipping — an unguarded int() here
            # would turn every append on such a table into a hard
            # ValueError. Integers record as-is; timestamps as UTC
            # epoch MICROSECONDS (round 9 — per-file time-range
            # pruning, the most common mutation slice), normalized by
            # the same helper the prune side uses.
            per_col = {}
            for name, e in acc.items():
                if e is None:
                    continue
                mn, mx, nulls = e
                lo, hi = self._stat_int(mn), self._stat_int(mx)
                if (
                    lo is None
                    and hi is None
                    and isinstance(mn, str)
                    and isinstance(mx, str)
                ):
                    # STRING min/max (round 12): recorded verbatim —
                    # parquet writers that truncate statistics keep
                    # min a prefix (a sound lower bound) and bump the
                    # truncated max above the true max (a sound upper
                    # bound), so skipping stays an over-approximation
                    # either way. JSON stores them natively.
                    lo, hi = mn, mx
                if lo is not None and hi is not None:
                    per_col[name] = (
                        [lo, hi, int(nulls)]
                        if nulls is not None
                        else [lo, hi]
                    )
            # "#rows" is recorded UNCONDITIONALLY (round 14): row
            # counts come from the footer even when no column has
            # usable min/max, and squash/compact recompute live-row
            # counts from survivors' "#rows" — a statless file would
            # silently degrade that exact count to an upper bound.
            per_col["#rows"] = md.num_rows
            out[rel] = per_col
        return out

    # Bloom index shape: m bits / k hashes sized for ~4K distinct
    # values per file at ~1% false positives (FP only costs a wasted
    # candidate read — never correctness). The hash is the same
    # MINSTD integer mix the portable PRNG uses: cheap, stable across
    # processes (no PYTHONHASHSEED), and int-exact.
    BLOOM_BITS = 32768
    BLOOM_HASHES = 3
    _BLOOM_M31 = 2147483647

    @classmethod
    def _bloom_positions(cls, value: int) -> list[int]:
        return [
            (
                (value * 2654435761 + seed * 40503) % cls._BLOOM_M31
            ) % cls.BLOOM_BITS
            for seed in range(1, cls.BLOOM_HASHES + 1)
        ]

    # A string column qualifies for the dictionary index only while a
    # file holds at most this many distinct values — above it the
    # list would bloat every commit for a column that is not actually
    # categorical, so the file records nothing and is never skipped.
    DICT_MAX_VALUES = 32

    def _file_blooms(self, rel_files: list[str]) -> dict:
        """Per-file membership indexes over ``bloom_columns`` +
        ``dict_columns``, read from the just-staged files' column
        data (pyarrow, no Spark job): integer columns record a hex
        Bloom bitmap, low-cardinality string columns record their
        sorted distinct-value list (≤ DICT_MAX_VALUES, else nothing).
        Unlike the min/max stats this touches the columns' values, so
        both indexes are opt-in; a column whose values don't match
        its index's type is skipped the same way non-integral stats
        are."""
        if not self.bloom_columns and not self.dict_columns:
            return {}
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for rel in rel_files:
            path = os.path.join(self.data_dir, rel)
            try:
                tbl = pq.read_table(path, columns=[
                    c
                    for c in (*self.bloom_columns, *self.dict_columns)
                ])
            except Exception:
                continue
            per_col: dict[str, object] = {}
            for c in self.bloom_columns:
                if c not in tbl.column_names:
                    continue
                bits = 0
                ok = True
                for v in tbl.column(c).to_pylist():
                    if v is None:
                        continue
                    if not isinstance(v, int):
                        ok = False
                        break
                    for pos in self._bloom_positions(v):
                        bits |= 1 << pos
                if ok and bits:
                    per_col[c] = f"{bits:x}"
            for c in self.dict_columns:
                if c not in tbl.column_names:
                    continue
                seen: set = set()
                ok = True
                for v in tbl.column(c).to_pylist():
                    if v is None:
                        continue
                    if not isinstance(v, str):
                        ok = False
                        break
                    seen.add(v)
                    if len(seen) > self.DICT_MAX_VALUES:
                        ok = False
                        break
                if ok and seen:
                    per_col[c] = sorted(seen)
            if per_col:
                out[rel] = per_col
        return out

    def _prune_by_bloom(
        self,
        files: list[str],
        commits: list[dict],
        key_values: dict[str, list],
    ) -> list[str]:
        """Drop candidate files whose recorded bloom proves they
        contain NONE of the mutation's key values on some membership
        index: integer sets test the Bloom bitmap, string sets test
        the recorded dictionary list. Complements
        :meth:`_prune_by_stats`: ranges skip clustered tables,
        membership indexes skip POINT lookups on unclustered ones.
        Files without a record are always kept — skipping is an
        optimization, never a correctness filter."""
        int_sets = {
            c: vs
            for c, vs in key_values.items()
            if vs and all(isinstance(v, int) for v in vs)
        }
        str_sets = {
            c: set(vs)
            for c, vs in key_values.items()
            if vs and all(isinstance(v, str) for v in vs)
        }
        if not int_sets and not str_sets:
            return files
        key_pos = {
            c: [self._bloom_positions(v) for v in vs]
            for c, vs in int_sets.items()
        }
        recorded: dict[str, dict] = {}
        for c in commits:
            recorded.update(c.get("blooms", {}))
        kept = []
        for f in files:
            rel = os.path.relpath(f, self.data_dir)
            e = recorded.get(rel)
            if not e:
                kept.append(f)
                continue
            disjoint = False
            for col, poss in key_pos.items():
                # value type selects the encoding — an int lookup
                # only ever tests a hex-bitmap record
                if not isinstance(e.get(col), str):
                    continue
                bits = int(e[col], 16)
                if not any(
                    all(bits >> p & 1 for p in pp) for pp in poss
                ):
                    disjoint = True
                    break
            if not disjoint:
                for col, wanted in str_sets.items():
                    if not isinstance(e.get(col), list):
                        continue
                    if not wanted.intersection(e[col]):
                        disjoint = True
                        break
            if not disjoint:
                kept.append(f)
        return kept

    # Collecting more key values than this to the driver would cost
    # more than the candidate reads the bloom could save — above it
    # the range stats carry the pruning alone.
    BLOOM_PRUNE_MAX_KEYS = 4096

    def _prune_candidates_by_bloom(
        self, files: list[str], commits: list[dict], keys: DataFrame
    ) -> list[str]:
        """Point-lookup file skipping for a mutation's key frame:
        collect each bloom column's distinct values (bounded — a
        too-large key set skips bloom pruning entirely) and drop
        candidates whose bloom excludes all of them."""
        cols = [c for c in self.bloom_columns if c in keys.columns]
        if not files or not cols:
            return files
        key_values: dict[str, list] = {}
        for c in cols:
            vs = (
                keys.select(c)
                .distinct()
                .limit(self.BLOOM_PRUNE_MAX_KEYS + 1)
                .collect()
            )
            if len(vs) > self.BLOOM_PRUNE_MAX_KEYS:
                continue
            key_values[c] = [r[c] for r in vs if r[c] is not None]
        return self._prune_by_bloom(files, commits, key_values)

    @staticmethod
    def _stat_int(v):
        """Normalize a stats value to the ORDERABLE number the commit
        log stores: ints as-is, timestamps as UTC epoch microseconds
        (naive values are UTC by session contract), floats as-is
        (round 10 — parquet footers carry exact double min/max, so
        zone maps and retention drops work on measure columns too;
        NaN → None, which disables skipping for that file/column),
        anything else unsupported (None → the column skips
        file-skipping). Used symmetrically at record time (parquet
        footer values) and prune time (query/batch bounds), so
        comparisons are always number vs number."""
        if isinstance(v, bool):
            return None
        if isinstance(v, int):
            return v
        if isinstance(v, float):
            return None if v != v else v
        if isinstance(v, _dt.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=_dt.timezone.utc)
            return int(v.timestamp() * 1_000_000)
        return None

    @staticmethod
    def _stat_key(v):
        """``_stat_int`` widened with STRINGS (round 12): a string
        stat passes through as-is. Parquet string min/max are
        byte-lexicographic over UTF-8, which orders identically to
        Python's codepoint comparison, so recorded string bounds and
        query string bounds compare soundly — what makes the posting
        index's range-clustered string ``v`` column zone-map
        prunable. Comparisons MUST still be type-homogeneous
        (``_stats_comparable``): a string never compares against a
        numeric sentinel."""
        if isinstance(v, str):
            return v
        return ManifestTable._stat_int(v)

    @staticmethod
    def _stats_comparable(a, b) -> bool:
        """True when two stat values live in the same order domain
        (both strings or both numbers) — the guard that keeps a
        mixed-type comparison from raising instead of falling back
        to keep-the-file."""
        return isinstance(a, str) == isinstance(b, str)

    @staticmethod
    def _batch_key_ranges(keys: DataFrame, stat_cols: list[str]) -> dict:
        """Engine-side {col: (min, max)} over the mutation batch's key
        frame. TIMESTAMP columns are reduced to UTC epoch MICROSECONDS
        inside Spark (``unix_micros``) BEFORE collect(): a collected
        TimestampType value arrives as a NAIVE datetime in the
        DRIVER'S LOCAL timezone (``TimestampType.fromInternal`` uses
        ``datetime.fromtimestamp``), so feeding it to _stat_int's
        naive-is-UTC rule on a non-UTC host shifts the prune window by
        the UTC offset — skipping files that still hold stale rows and
        resurrecting duplicate PKs (the same unsoundness class as the
        round-9 non-pk-column fix). Integers collect exactly;
        TIMESTAMP_NTZ collects as the literal wall value with no TZ
        conversion, which IS UTC by session contract, so only the
        tz-aware type needs the engine-side conversion."""
        from pyspark.sql import types as T

        if not stat_cols:
            return {}
        exprs = []
        for i, c in enumerate(stat_cols):
            e = F.col(c)
            if isinstance(keys.schema[c].dataType, T.TimestampType):
                e = F.unix_micros(e)
            exprs.append(F.min(e).alias(f"mn{i}"))
            exprs.append(F.max(e).alias(f"mx{i}"))
        row = keys.agg(*exprs).collect()[0]
        return {
            c: (row[f"mn{i}"], row[f"mx{i}"])
            for i, c in enumerate(stat_cols)
        }

    def _prune_by_stats(
        self,
        files: list[str],
        commits: list[dict],
        key_ranges: dict[str, tuple],
    ) -> list[str]:
        """Drop candidate files whose recorded stats prove they cannot
        intersect the batch's key ranges — a file is skipped when ANY
        stats column's recorded [min, max] is disjoint from that
        column's batch range (each extra stats column only ever prunes
        MORE). Files without stats (written before stats tracking)
        are always kept, as are columns a file has no record for —
        skipping is an optimization, never a correctness filter.
        Legacy single-column entries (``[min, max]`` lists) are read
        as the default column's range."""
        key_ranges = {
            c: (self._stat_key(mn), self._stat_key(mx))
            for c, (mn, mx) in key_ranges.items()
        }
        key_ranges = {
            c: (mn, mx)
            for c, (mn, mx) in key_ranges.items()
            if mn is not None
            and mx is not None
            and self._stats_comparable(mn, mx)
        }
        if not key_ranges:
            return files
        recorded: dict[str, object] = {}
        for c in commits:
            recorded.update(c.get("stats", {}))
        kept = []
        for f in files:
            rel = os.path.relpath(f, self.data_dir)
            e = recorded.get(rel)
            if e is None:
                kept.append(f)
                continue
            if isinstance(e, list):
                e = {self.STATS_COLUMN: e}
            disjoint = any(
                col in e
                # type-heterogeneous record vs range (a string stat
                # against a numeric open-bound sentinel): keep the
                # file — skipping is an optimization, never a filter
                and self._stats_comparable(e[col][0], mn)
                and self._stats_comparable(e[col][1], mx)
                and (e[col][1] < mn or e[col][0] > mx)
                for col, (mn, mx) in key_ranges.items()
            )
            if not disjoint:
                kept.append(f)
        return kept

    def _discard_stage(self, rel_files: list[str]) -> None:
        import shutil

        if rel_files:
            stage_path = os.path.join(self.data_dir, os.path.dirname(rel_files[0]))
            shutil.rmtree(stage_path, ignore_errors=True)

    def idempotent_append(
        self,
        spark: SparkSession,
        batch: DataFrame,
        pk: list[str] = PK,
        max_retries: int = 20,
        cluster_by: list[str] | None = None,
        cluster_partitions: int | None = None,
    ) -> int:
        """PK-idempotent append through the commit log — the
        ``MERGE WHEN NOT MATCHED THEN INSERT`` of the manifest world.
        Safe under concurrent writers without any filesystem mutex:
        every interleaving either wins its commit number with a key
        set validated against all prior commits, or revalidates and
        retries. Returns rows written (0 when fully duplicate).

        FENCE INVARIANT: ``validated_through`` is always derived from
        the SAME ``numbered_snapshot()`` listing the validation
        anti-join/overlap check ran against (``max(number) + 1`` over
        that exact listing; 0 when empty) — never from a second,
        later directory listing. A commit that lands between two
        listings would be covered by the later fence but never
        validated against, which is exactly the concurrent-duplicate
        hole: fencing and validating MUST observe one atomic view of
        the log. Publishing at that fence is then sound because
        numbers are monotone (compaction preserves them — see
        ``next_commit_number``): any commit the writer has not
        validated takes a number >= the fence, so ``_put_if_absent``
        failing is the only way to miss concurrent content, and that
        failure routes into revalidation below."""
        self._check_constraints(batch)
        in_batch = batch.dropDuplicates(pk).persist()
        # ``fresh`` (the persisted anti-join result, or in_batch itself)
        # is unpersisted by the finally on every exit.
        fresh = in_batch
        try:
            # Dateless tables (dimensions — no reading_timestamp):
            # None disables date pruning, so validation anti-joins
            # against ALL files (the safe direction) and the commit
            # records no dates. Batch count and distinct dates come
            # from ONE per-date rollup job (r14, guide §1.2) instead
            # of a count action plus a separate distinct collect.
            if "reading_timestamp" in in_batch.columns:
                per_date = (
                    in_batch.groupBy(
                        F.to_date("reading_timestamp").alias("d")
                    )
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                n_batch = sum(r["n"] for r in per_date)
                batch_dates = {str(r["d"]) for r in per_date}
            else:
                n_batch = in_batch.count()
                batch_dates = None
            if n_batch == 0:
                return 0
            numbered = self.numbered_snapshot()
            commits = [c for _, c in numbered]
            self._check_schema_compat(in_batch, commits)
            fresh, n = self._anti_join(
                spark, in_batch, numbered, batch_dates, pk, n_batch
            )
            staged: list[str] = []
            # Fence by NUMBER, not position: compaction leaves gaps in
            # the numbering, so len() could alias an old slot and let
            # an unvalidated concurrent commit slip under the publish.
            validated_through = self._fence(numbered)
            for _ in range(max_retries):
                if n == 0:
                    self._discard_stage(staged)
                    return 0
                if not staged:
                    out = fresh
                    if cluster_by:
                        # write-time clustering (round 12): the
                        # dedup/anti-join shuffles hash-partition the
                        # batch, so without this the staged files each
                        # span the whole key range and the per-file
                        # stats prune nothing. Range-repartition +
                        # sort as the LAST op before staging, so each
                        # file covers a narrow slice — the incremental
                        # OPTIMIZE (cluster_by=...) that costs one
                        # extra batch-sized shuffle instead of a
                        # table-sized rewrite later.
                        out = fresh.repartitionByRange(
                            *(
                                [cluster_partitions]
                                if cluster_partitions
                                else []
                            ),
                            *cluster_by,
                        ).sortWithinPartitions(*cluster_by)
                    staged = self._stage(out)
                if self._pre_publish_hook is not None:
                    self._pre_publish_hook()
                payload = json.dumps(
                    {
                        "version": validated_through,
                        "added": staged,
                        "count": n,
                        "dates": sorted(batch_dates or []),
                        "schema": in_batch.schema.json(),
                        "stats": self._file_stats(staged),
                        "blooms": self._file_blooms(staged),
                        "committed_at": time.time(),
                    }
                ).encode()
                if _put_if_absent(self._commit_path(validated_through), payload):
                    return n
                # Lost the race: validate only against the commits we
                # lost to. If their key sets can't overlap ours (date
                # pruning, then an actual key check), recommit the SAME
                # staged files at the next number — no rewrite. The new
                # fence comes from THIS listing (fence invariant above).
                numbered = self.numbered_snapshot()
                new_commits = [
                    c for num, c in numbered if num >= validated_through
                ]
                overlap_files = self._files(new_commits, batch_dates)
                validated_through = self._fence(numbered)
                if overlap_files:
                    clash = (
                        fresh.join(
                            spark.read.parquet(*overlap_files).select(*pk),
                            pk,
                            "left_semi",
                        ).limit(1).count()
                    )
                    if clash:
                        # Genuine conflict: our staged rows now contain
                        # duplicates. Re-anti-join and re-stage against
                        # one fresh listing (validation + fence).
                        self._discard_stage(staged)
                        fresh.unpersist()
                        numbered = self.numbered_snapshot()
                        commits = [c for _, c in numbered]
                        validated_through = self._fence(numbered)
                        fresh, n = self._anti_join(
                            spark, in_batch, numbered, batch_dates, pk,
                            n_batch,
                        )
                        staged = []
            self._discard_stage(staged)
            raise CommitConflictError(
                f"gave up after {max_retries} commit attempts on "
                f"{self.table_dir}"
            )
        finally:
            fresh.unpersist()
            in_batch.unpersist()

    def _check_schema_compat(
        self, batch: DataFrame, commits: list[dict]
    ) -> None:
        """Additive-only schema evolution gate: a batch may ADD
        columns, but a column the table already has must keep its
        type — rejecting the write here (Delta's behavior) beats
        discovering unreadable mixed-type files later."""
        table_schema = self._evolved_schema(commits)
        if table_schema is None:
            return
        existing = {f.name: f.dataType for f in table_schema.fields}
        # type tombstones for ALTER-dropped columns (latest wins):
        # re-introducing a dropped name with a DIFFERENT type would
        # make pre-drop files unreadable under the new read schema
        dropped: dict[str, str] = {}
        for c in commits:
            dropped.update(c.get("dropped_types") or {})
        for f in batch.schema.fields:
            if f.name in existing and f.dataType != existing[f.name]:
                raise ValueError(
                    f"schema evolution is additive-only: column "
                    f"'{f.name}' is {existing[f.name].simpleString()} "
                    f"in the table but {f.dataType.simpleString()} in "
                    f"the batch"
                )
            if (
                f.name not in existing
                and f.name in dropped
                and f.dataType.json() != dropped[f.name]
            ):
                raise ValueError(
                    f"column '{f.name}' was ALTER-dropped with type "
                    f"{dropped[f.name]}; re-introducing it with "
                    f"{f.dataType.simpleString()} would make pre-drop "
                    "files unreadable — reuse the original type"
                )

    def _check_constraints(self, batch: DataFrame) -> None:
        """Screen a write batch against the table's CHECK constraints
        in one conditional-sum aggregate; raise with per-check counts
        on any violation. Constraints naming columns the batch lacks
        count every row as violating for not_null and are skipped for
        the value checks (a missing column is NULL everywhere)."""
        if not self.constraints:
            return
        from smart_meter_data_pipeline_spark.operators.expectations import (
            _check_name,
            _violation_expr,
        )

        aggs = []
        names = []
        for c in self.constraints:
            names.append(_check_name(c))
            if c["column"] not in batch.columns:
                if c["kind"] == "not_null":
                    aggs.append(F.count(F.lit(1)))
                else:
                    aggs.append(F.lit(0))
                continue
            aggs.append(F.sum(_violation_expr(c).cast("long")))
        row = batch.agg(
            *[a.alias(f"v{i}") for i, a in enumerate(aggs)]
        ).collect()[0]
        bad = {
            n: int(row[f"v{i}"] or 0)
            for i, n in enumerate(names)
            if (row[f"v{i}"] or 0) > 0
        }
        if bad:
            raise ValueError(
                f"batch violates CHECK constraints {bad}: nothing "
                "was written — fix or quarantine the rows upstream "
                "(sources/ingest.py split_valid is the quarantine "
                "path)"
            )

    @staticmethod
    def _fence(numbered: list[tuple[int, dict]]) -> int:
        """The publish number implied by one specific log listing:
        max commit number + 1 (0 on an empty log). Taking the fence
        and the validation set from the SAME listing is what makes the
        lock-free append sound — see idempotent_append."""
        return (max(num for num, _ in numbered) + 1) if numbered else 0

    # -- copy-on-write mutations -------------------------------------------

    def _rel(self, file_uri: str) -> str:
        """input_file_name() URI → data-dir-relative path."""
        from urllib.parse import unquote, urlparse

        p = urlparse(file_uri).path or file_uri
        return os.path.relpath(unquote(p), self.data_dir)

    def delete_keys(
        self,
        spark: SparkSession,
        keys: DataFrame,
        pk: list[str] = PK,
        max_retries: int = 5,
    ) -> int:
        """Copy-on-write DELETE by primary key — ``DELETE FROM t WHERE
        (pk) IN keys`` in the manifest world. Only files that actually
        contain a matching key are rewritten (minus the matches); one
        commit lists the rewrites as ``added`` and the originals as
        ``removed``, so readers flip atomically and historical
        versions still see the old files (time travel keeps working
        until compaction + vacuum reclaim them — Delta's
        delete/vacuum lifecycle).

        Same lock-free optimistic protocol as the append, but
        mutations retry FROM SCRATCH on a lost race (the file set they
        rewrote may have changed); the date-pruned candidate scan is
        sound for PK matching because the PK embeds the timestamp the
        commit dates are derived from. Returns rows deleted."""
        n, _ = self._cow_mutation(spark, keys, None, pk, max_retries)
        return n

    def upsert(
        self,
        spark: SparkSession,
        batch: DataFrame,
        pk: list[str] = PK,
        max_retries: int = 5,
        _expected_fence: int | None = None,
    ) -> dict:
        """Copy-on-write MERGE — ``WHEN MATCHED THEN UPDATE SET *,
        WHEN NOT MATCHED THEN INSERT *`` keyed on ``pk``. The
        reference's sink is insert-only (``ON CONFLICT DO NOTHING``,
        consumer/meter_consumer.py:104-114); this is the full upsert a
        re-statement/correction feed needs (late meter re-reads with
        amended values), shaped like Delta MERGE: matched rows'
        files are rewritten with the batch's post-image, unmatched
        batch rows append, one atomic commit carries both.

        Returns ``{"updated": n, "inserted": n}``."""
        u, i = self._cow_mutation(
            spark,
            batch,
            batch,
            pk,
            max_retries,
            expected_fence=_expected_fence,
        )
        return {"updated": u, "inserted": i}

    def upsert_partial(
        self,
        spark: SparkSession,
        batch: DataFrame,
        pk: list[str] = PK,
        max_retries: int = 5,
    ) -> dict:
        """MERGE with a PARTIAL-column batch — ``WHEN MATCHED THEN
        UPDATE SET <only the batch's columns>``: the unspecified
        columns CARRY FORWARD from the current row (a plain
        :meth:`upsert` replaces matched rows wholesale and would null
        them, which is why it rejects partial batches loudly). Done
        the only sound way under copy-on-write: enrich the batch
        against the CURRENT table image (one pk-keyed left join —
        matched rows pick up their unspecified columns, genuinely new
        keys keep NULLs there, exactly Delta's
        ``UPDATE SET col = source.col`` semantics), then run the
        standard full-row upsert. The enrichment is FENCE-PINNED to
        the snapshot it was derived from: the inner upsert may only
        commit at that exact log position, so a concurrent writer
        landing between the enrichment read and the commit forces a
        full RE-ENRICHMENT against the new image instead of silently
        overwriting the concurrent change with pre-snapshot
        carried-forward values (the lost-update Delta MERGE raises a
        concurrent-modification conflict for — here it retries with
        fresh values, aborting only after ``max_retries``)."""
        for _ in range(max_retries):
            fence = self._fence(self.numbered_snapshot())
            # read() lists again; if a commit lands in between, the
            # image is NEWER than the fence and the fence-pinned
            # commit below fails into a re-derive — never the
            # reverse (commit numbers are dense, so the pinned
            # fence succeeding proves no later state existed).
            current = self.read(spark)
            missing = (
                [
                    f.name
                    for f in current.schema.fields
                    if f.name not in set(batch.columns)
                ]
                if current is not None
                else []
            )
            if current is None or not missing:
                # nothing is derived from the snapshot (full-column
                # batch, or empty table) — no pin needed, the plain
                # upsert's own optimistic retries are sufficient
                return self.upsert(spark, batch, pk, max_retries)
            try:
                enriched = (
                    batch.alias("b")
                    .join(current.alias("t"), pk, "left")
                    .select(
                        *[F.col(f"b.{c}") for c in batch.columns],
                        *[F.col(f"t.{c}") for c in missing],
                    )
                    .localCheckpoint(eager=True)
                )
                return self.upsert(
                    spark,
                    enriched,
                    pk,
                    max_retries,
                    _expected_fence=fence,
                )
            except _SnapshotAdvancedError:
                continue
        raise CommitConflictError(
            f"gave up after {max_retries} upsert_partial re-enrichment "
            f"attempts on {self.table_dir}"
        )

    def upsert_if_newer(
        self,
        spark: SparkSession,
        batch: DataFrame,
        version_col: str,
        pk: list[str] = PK,
        max_retries: int = 5,
    ) -> dict:
        """MERGE guarded by a version/recency column — ``WHEN MATCHED
        AND source.{version_col} >= target.{version_col} THEN UPDATE``:
        the out-of-order-feed protection every CDC consumer needs (a
        replayed or late batch must never regress a row that already
        holds newer data). Batch rows older than the current row are
        DROPPED before the mutation (one pk-keyed left join against
        the current image); ties update (idempotent replay of the
        newest batch stays a no-op in effect). The staleness filter
        is FENCE-PINNED to the snapshot it was evaluated against: a
        concurrent upsert advancing a row's version between the guard
        evaluation and the commit forces a RE-FILTER against the new
        image — otherwise the retry would regress that row with the
        batch's now-stale value, violating the method's own
        never-regress contract. Returns the plain upsert counters
        plus ``skipped_stale``."""
        for _ in range(max_retries):
            fence = self._fence(self.numbered_snapshot())
            current = self.read(spark)
            try:
                if current is None:
                    res = self.upsert(
                        spark,
                        batch,
                        pk,
                        max_retries,
                        _expected_fence=fence,
                    )
                    return dict(res, skipped_stale=0)
                cur_v = current.select(
                    *pk, F.col(version_col).alias("_cur_v")
                )
                tagged = batch.join(cur_v, pk, "left").localCheckpoint(
                    eager=True
                )
                fresh = tagged.filter(
                    F.col("_cur_v").isNull()
                    | (F.col(version_col) >= F.col("_cur_v"))
                ).drop("_cur_v")
                n_stale = tagged.count() - fresh.count()
                res = self.upsert(
                    spark,
                    fresh,
                    pk,
                    max_retries,
                    _expected_fence=fence,
                )
                return dict(res, skipped_stale=int(n_stale))
            except _SnapshotAdvancedError:
                continue
        raise CommitConflictError(
            f"gave up after {max_retries} upsert_if_newer re-filter "
            f"attempts on {self.table_dir}"
        )

    # -- merge-on-read mutations ---------------------------------------------

    @staticmethod
    def _mor_high_water(commits: list[dict]) -> int:
        """Largest commit number whose tombstones have been physically
        applied (−1 when none): tombstone records at or below it are
        inert — their logical deletes are baked into rewritten files."""
        return max(
            (c.get("mor_applied_upto", -1) for c in commits), default=-1
        )

    def _pending_tombstones(
        self, numbered: list[tuple[int, dict]]
    ) -> list[dict]:
        """Unapplied tombstone records, ascending by ``upto`` (the
        commit number the delete landed at — the record is
        self-describing so log compaction can carry it into the merged
        base without losing its position in time)."""
        high = self._mor_high_water([c for _, c in numbered])
        out = [
            t
            for _, c in numbered
            for t in c.get("tombstones", [])
            if t["upto"] > high
        ]
        return sorted(out, key=lambda t: t["upto"])

    def _file_origins(
        self, numbered: list[tuple[int, dict]]
    ) -> dict[str, int]:
        """{absolute live file path: the commit NUMBER whose commit
        first added it}. A tombstone applies to a file iff the file's
        origin is <= the tombstone's ``upto`` — rows (re-)written
        AFTER the delete survive it, which is what makes
        re-inserting a deleted key, CoW rewrites, and OPTIMIZE all
        compose with pending tombstones. Log compaction preserves
        origins through the merged base's ``added_numbers`` map."""
        origins: dict[str, int] = {}
        for num, c in numbered:
            for f in c.get("removed", []):
                origins.pop(os.path.join(self.data_dir, f), None)
            recorded = c.get("added_numbers", {})
            for f in c["added"]:
                origins[os.path.join(self.data_dir, f)] = recorded.get(
                    f, num
                )
        return origins

    def _tombstone_keys(self, spark: SparkSession, t: dict) -> DataFrame:
        return spark.read.parquet(
            *(os.path.join(self.data_dir, r) for r in t["rels"])
        )

    def _read_files_with_tombstones(
        self,
        spark: SparkSession,
        numbered: list[tuple[int, dict]],
        files: list[str],
        schema,
    ) -> DataFrame:
        """Read ``files`` with every pending tombstone anti-joined onto
        exactly the rows it governs: files are grouped by which SUFFIX
        of the (upto-ascending) tombstone list applies to their origin
        number, each group is read once and anti-joined with its
        suffix, and the groups union back. With no pending tombstones
        this is a plain parquet read."""
        import bisect

        def _reader():
            r = spark.read
            return r.schema(schema) if schema is not None else r

        pending = self._pending_tombstones(numbered)
        if not pending:
            return _reader().parquet(*files)
        origins = self._file_origins(numbered)
        uptos = [t["upto"] for t in pending]
        groups: dict[int, list[str]] = {}
        for f in files:
            i = bisect.bisect_left(uptos, origins.get(f, -1))
            groups.setdefault(i, []).append(f)
        parts = []
        for i, grp in sorted(groups.items()):
            df = _reader().parquet(*grp)
            for t in pending[i:]:
                df = df.join(
                    self._tombstone_keys(spark, t), t["pk"], "left_anti"
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def delete_keys_mor(
        self,
        spark: SparkSession,
        keys: DataFrame,
        pk: list[str] = PK,
        max_retries: int = 5,
    ) -> int:
        """Merge-on-read DELETE — the deletion-vector shape (Delta DVs
        / Iceberg merge-on-read deletes), keyed on ``pk`` rather than
        row positions (a manifest of immutable parquet files has no
        stable row ordinals to point at). The delete stages only the
        KEY TUPLES and publishes one metadata commit; no data file is
        read or rewritten, so deleting a handful of rows from a 100 TB
        table costs O(|keys|) regardless of table size — the whole
        point of merge-on-read. Readers anti-join pending tombstones
        onto exactly the files the delete governs (origin number <=
        the tombstone's commit number), so later re-inserts of a
        deleted key are visible, and :func:`apply_tombstones`
        reconciles the debt into real rewrites when the read-side tax
        is no longer worth it (the Delta ``REORG TABLE APPLY``
        lifecycle). Copy-on-write mutations, OPTIMIZE and RESTORE
        refuse to run over pending tombstones (apply first) — they
        read files raw and would resurrect logically-deleted rows.

        Returns the number of distinct key tuples recorded."""
        in_keys = keys.select(*pk).dropDuplicates(pk).persist()
        try:
            # key count + distinct dates from ONE per-date rollup job
            # (r14, guide §1.2) — was a count action plus a separate
            # distinct collect over the same frame.
            if "reading_timestamp" in in_keys.columns:
                per_date = (
                    in_keys.groupBy(
                        F.to_date("reading_timestamp").alias("d")
                    )
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                n_keys = sum(r["n"] for r in per_date)
                key_dates = {str(r["d"]) for r in per_date}
            else:
                n_keys = in_keys.count()
                key_dates = None  # timestamp-free pk: dates unknowable
            if n_keys == 0:
                return 0
            staged = self._stage(in_keys)
            for _ in range(max_retries):
                numbered = self.numbered_snapshot()
                commits = [c for _, c in numbered]
                fence = self._fence(numbered)
                tbl_schema = self._evolved_schema(commits)
                if tbl_schema is not None:
                    missing = [
                        c
                        for c in pk
                        if c not in {f.name for f in tbl_schema.fields}
                    ]
                    if missing:
                        self._discard_stage_all(staged)
                        raise ValueError(
                            f"tombstone pk columns {missing} do not "
                            "exist in the table schema"
                        )
                payload = json.dumps(
                    {
                        "version": fence,
                        "added": [],
                        "removed": [],
                        "count": 0,
                        "dates": [],
                        "stats": {},
                        # CDC metadata: the delete logically changed
                        # these dates even though no file moved. A
                        # timestamp-free pk can't name them — over-
                        # approximate with every commit date so an
                        # incremental consumer re-reads more, never
                        # misses the change.
                        "removed_dates": (
                            sorted(key_dates)
                            if key_dates is not None
                            else sorted(
                                {
                                    d
                                    for c in commits
                                    for d in c.get("dates", [])
                                }
                            )
                        ),
                        "batch_dates": [],
                        "tombstones": [
                            {"upto": fence, "rels": staged, "pk": list(pk)}
                        ],
                        "schema": None,
                        "committed_at": time.time(),
                    }
                ).encode()
                if self._pre_publish_hook is not None:
                    self._pre_publish_hook()
                if _put_if_absent(self._commit_path(fence), payload):
                    return n_keys
                # Lost the race: the staged keys are still valid (a
                # tombstone validates against nothing — it only needs
                # a fresh fence), so retry with the same stage.
            self._discard_stage_all(staged)
            raise CommitConflictError(
                f"gave up after {max_retries} tombstone attempts on "
                f"{self.table_dir}"
            )
        finally:
            in_keys.unpersist()

    def _cow_mutation(
        self,
        spark: SparkSession,
        keys: DataFrame,
        batch: DataFrame | None,
        pk: list[str],
        max_retries: int,
        expected_fence: int | None = None,
    ) -> tuple[int, int]:
        """Shared copy-on-write engine for delete (``batch=None``) and
        upsert. Per attempt: one log listing supplies BOTH the
        validated file set and the publish fence (the same invariant
        as idempotent_append); affected files are found by a
        date-pruned candidate scan tagged with input_file_name();
        survivors (minus matches) and the upsert batch are staged; a
        single commit adds the rewrites and removes the originals.
        A lost put-if-absent discards the stage and reruns the whole
        attempt against the new log."""
        if batch is not None:
            self._check_constraints(batch)
        in_keys = keys.dropDuplicates(pk).persist()
        try:
            # Date pruning is sound ONLY when the timestamp is part of
            # the match key: then a matched row's date equals its
            # batch key's date by definition. Under a timestamp-free
            # pk (e.g. latest-state tables keyed on meter_id alone) a
            # restatement MOVES the row to a new date — pruning by the
            # batch's NEW dates would skip the file holding the stale
            # OLD row and duplicate the key (the same unsoundness
            # class as non-pk stats pruning, round-9 rule).
            # Emptiness, total key count and distinct dates come from
            # ONE per-date rollup job (r14, guide §1.2); n_total_keys
            # also serves the pure-insert n_inserted branch below, so
            # a no-match upsert pays no extra count action.
            batch_dates_set: set[str] = set()
            if "reading_timestamp" in in_keys.columns:
                per_date_keys = (
                    in_keys.groupBy(
                        F.to_date("reading_timestamp").alias("d")
                    )
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                n_total_keys = sum(r["n"] for r in per_date_keys)
                batch_dates_set = {str(r["d"]) for r in per_date_keys}
            else:
                n_total_keys = in_keys.count()
            if n_total_keys == 0:
                return 0, 0
            ts_in_pk = "reading_timestamp" in pk
            key_dates = batch_dates_set if ts_in_pk else None
            for _ in range(max_retries):
                numbered = self.numbered_snapshot()
                commits = [c for _, c in numbered]
                fence = self._fence(numbered)
                if expected_fence is not None and fence != expected_fence:
                    # The batch was derived from (enriched against /
                    # filtered by) a snapshot that no longer heads the
                    # log — committing it would overwrite whatever the
                    # concurrent writer changed with pre-snapshot
                    # values (a lost update). Hand control back to the
                    # caller to re-derive against the current image.
                    raise _SnapshotAdvancedError(
                        f"{self.table_dir} advanced past fence "
                        f"{expected_fence} (now {fence})"
                    )
                if self._pending_tombstones(numbered):
                    raise PendingTombstonesError(
                        f"{self.table_dir} has pending merge-on-read "
                        "tombstones; run apply_tombstones() before "
                        "copy-on-write mutations"
                    )
                self._check_schema_compat(in_keys, commits)
                if batch is not None:
                    # MERGE "UPDATE SET *" contract: matched rows are
                    # REPLACED by batch rows, so a batch missing table
                    # columns would silently null them on every
                    # matched row. Reject loudly (Delta errors here
                    # too); a partial-column restatement should enrich
                    # against read() first.
                    tbl_schema = self._evolved_schema(commits)
                    if tbl_schema is not None:
                        missing = [
                            f.name
                            for f in tbl_schema.fields
                            if f.name not in set(in_keys.columns)
                        ]
                        if missing:
                            raise ValueError(
                                "upsert batch is missing table "
                                f"columns {missing}: matched rows are "
                                "replaced wholesale (UPDATE SET *), "
                                "which would null these columns — "
                                "join the batch against read() to "
                                "carry forward unchanged values"
                            )
                cand = self._files(commits, key_dates)
                # Candidate files can span schema versions: read them
                # under the evolved schema (pre-evolution files yield
                # NULL for later columns) — a plain read would infer
                # one file's schema and silently drop the others'
                # columns from the rewrite.
                ev_schema = self._evolved_schema(commits)
                # File skipping: the batch's range on every MATCH-KEY
                # stats column vs each file's recorded min/max — a
                # restatement targeting one meter range touches only
                # that range's files, from metadata alone. ONLY pk
                # columns are sound here (round-9 fix): matching is by
                # pk, and a non-key column's value can CHANGE across a
                # restatement — pruning by the batch's NEW value range
                # would skip the file holding the stale OLD row and
                # resurrect it next to its replacement (duplicate PK).
                stat_cols = [
                    c
                    for c in self.stats_columns
                    if c in pk and c in in_keys.columns
                ]
                key_ranges = self._batch_key_ranges(in_keys, stat_cols)
                cand = self._prune_by_stats(cand, commits, key_ranges)
                # bloom pruning under the same pk-only rule: project
                # the key frame to the match keys so a non-key bloom
                # column's restated values can never skip a file that
                # still holds the stale row
                cand = self._prune_candidates_by_bloom(
                    cand, commits, in_keys.select(*pk)
                )
                staged: list[str] = []
                removed_rel: list[str] = []
                n_matched = 0
                if cand:
                    cand_reader = spark.read
                    if ev_schema is not None:
                        cand_reader = cand_reader.schema(ev_schema)
                    tagged = cand_reader.parquet(*cand).withColumn(
                        "_file", F.input_file_name()
                    )
                    # No broadcast hint: a restatement batch can be
                    # arbitrarily large — let AQE pick broadcast when
                    # the key set is small and shuffle when it isn't.
                    matched = tagged.join(
                        in_keys.select(*pk), pk, "left_semi"
                    )
                    # ONE job for n_matched AND the affected-file list
                    # (r14, guide §1.2): these used to be two separate
                    # actions — a count, then a distinct-_file collect —
                    # each paying the full candidate scan + semi-join.
                    # The per-file rollup returns both from one scan;
                    # the collect is metadata-scale (≤ one row per
                    # candidate file).
                    per_file = (
                        matched.groupBy("_file")
                        .agg(F.count(F.lit(1)).alias("n"))
                        .collect()
                    )
                    n_matched = sum(r["n"] for r in per_file)
                    if n_matched:
                        affected_uris = [r["_file"] for r in per_file]
                        removed_rel = sorted(
                            self._rel(u) for u in affected_uris
                        )
                        survivors = (
                            tagged.filter(
                                F.col("_file").isin(affected_uris)
                            )
                            .join(
                                in_keys.select(*pk),
                                pk,
                                "left_anti",
                            )
                            .drop("_file")
                        )
                        staged = self._stage(survivors)
                if batch is not None:
                    # in_keys IS the deduped batch (upsert passes the
                    # batch as its key frame): every batch row lands —
                    # matched ones as the post-image of their rewritten
                    # files' rows, the rest as inserts. The insert-
                    # detection anti-join probes only the AFFECTED
                    # files (r14): a file holding ≥1 matching row is by
                    # definition affected, so candidate-but-unaffected
                    # files cannot contain any batch key — re-scanning
                    # them here was pure waste.
                    if cand and n_matched:
                        # The isin() is a per-row chain of URI string
                        # compares — worth it only when it actually
                        # drops files; a full-table restatement
                        # (every candidate affected) skips it.
                        probe = (
                            tagged.filter(
                                F.col("_file").isin(affected_uris)
                            )
                            if len(affected_uris) < len(cand)
                            else tagged
                        ).select(*pk)
                        n_inserted = in_keys.join(
                            probe, pk, "left_anti"
                        ).count()
                    else:
                        n_inserted = n_total_keys
                    staged = staged + self._stage(in_keys)
                else:
                    n_inserted = 0
                    if n_matched == 0:
                        return 0, 0
                # Commit dates = dates of ALL added files (survivors
                # can carry dates outside the mutation keys' range —
                # omitting them would let a future append's date-pruned
                # validation miss those rows and double-insert); count
                # = rows the added files physically hold.
                if staged:
                    sdf = spark.read.parquet(
                        *(
                            os.path.join(self.data_dir, f)
                            for f in staged
                        )
                    )
                    # dateless tables (no reading_timestamp) record
                    # no dates — same guard as idempotent_append
                    aggs = [F.count(F.lit(1)).alias("n")]
                    has_ts = "reading_timestamp" in sdf.columns
                    if has_ts:
                        aggs.append(
                            F.collect_set(
                                F.to_date("reading_timestamp").cast(
                                    "string"
                                )
                            ).alias("dates")
                        )
                    stat = sdf.agg(*aggs).collect()[0]
                    n_staged = stat["n"]
                    added_dates = (
                        sorted(stat["dates"]) if has_ts else []
                    )
                else:
                    n_staged, added_dates = 0, []
                if self._pre_publish_hook is not None:
                    self._pre_publish_hook()
                payload = json.dumps(
                    {
                        "version": fence,
                        "added": staged,
                        "removed": removed_rel,
                        "count": n_staged,
                        "dates": added_dates,
                        "stats": self._file_stats(staged),
                        "blooms": self._file_blooms(staged),
                        # CDC metadata: the dates the matched (removed
                        # or re-stated) rows lived on — the only
                        # record of a date a DELETE emptied entirely,
                        # which the post-image diff cannot see. With a
                        # timestamp-free pk the matched rows may live
                        # on dates OUTSIDE the batch's — over-
                        # approximate with every commit date (CDC
                        # consumers re-read more, never less).
                        "removed_dates": (
                            []
                            if not n_matched
                            else sorted(batch_dates_set)
                            if ts_in_pk
                            else sorted(
                                {
                                    d
                                    for c in commits
                                    for d in c.get("dates", [])
                                }
                            )
                        ),
                        # The batch's own dates: with removed_dates
                        # this is the EXACT changed-date set of a
                        # mutation, letting incremental consumers skip
                        # reading survivor files (whose full date
                        # range is mostly unchanged rows).
                        "batch_dates": (
                            sorted(batch_dates_set)
                            if batch is not None
                            else []
                        ),
                        "schema": (
                            in_keys.schema.json()
                            if batch is not None
                            else ev_schema.json()
                            if ev_schema is not None
                            else None
                        ),
                        "committed_at": time.time(),
                    }
                ).encode()
                if _put_if_absent(self._commit_path(fence), payload):
                    if batch is not None:
                        return n_matched, n_inserted
                    return n_matched, 0
                # Lost the race: the file set we rewrote may have
                # changed under us — discard and rerun from scratch.
                self._discard_stage_all(staged)
            raise CommitConflictError(
                f"gave up after {max_retries} mutation attempts on "
                f"{self.table_dir}"
            )
        finally:
            in_keys.unpersist()

    def _discard_stage_all(self, rel_files: list[str]) -> None:
        """Discard every stage dir named by ``rel_files`` (a mutation
        stages survivors and batch under separate prefixes)."""
        for d in {os.path.dirname(f) for f in rel_files}:
            shutil.rmtree(
                os.path.join(self.data_dir, d), ignore_errors=True
            )

    def _anti_join(
        self,
        spark: SparkSession,
        in_batch: DataFrame,
        numbered: list[tuple[int, dict]],
        batch_dates: set[str],
        pk: list[str],
        n_batch: int | None = None,
    ) -> tuple[DataFrame, int]:
        files = self._files([c for _, c in numbered], batch_dates)
        if not files:
            # Nothing to validate against: fresh == in_batch, whose
            # count the caller already paid for (r15, guide §1.2) —
            # skip the recount job on every first append.
            if n_batch is not None:
                return in_batch, n_batch
            fresh = in_batch
        else:
            # Tombstone-aware: a key deleted by a pending merge-on-read
            # tombstone must be re-insertable — validating against the
            # raw files would see the dead row and drop the re-insert.
            # Read under the evolved commit schema (as read() does):
            # with schema=None, tombstone origin groups that straddle a
            # schema-evolution boundary would infer DIFFERENT per-group
            # schemas and the strict unionByName inside would raise.
            existing = self._read_files_with_tombstones(
                spark,
                numbered,
                files,
                self._evolved_schema([c for _, c in numbered]),
            ).select(*pk)
            # Persisted before the count: the staging write reads the
            # cached rows instead of re-running the join.
            fresh = in_batch.join(existing, pk, "left_anti").persist()
        return fresh, fresh.count()


def idempotent_append_manifest(
    spark: SparkSession, batch: DataFrame, table_dir: str
) -> int:
    """Function-style entry point mirroring
    :func:`~.ingest.idempotent_append`, but through the commit log —
    use this form when the target is an object store."""
    return ManifestTable(table_dir).idempotent_append(spark, batch)


def compact_log(table: ManifestTable, keep_last: int = 10) -> int:
    """Log compaction — the Delta-checkpoint move that keeps commit
    metadata BOUNDED: all commits except the newest ``keep_last`` are
    merged into one base commit (same data files, union of dates, no
    data rewritten), so a table ingesting thousands of micro-batches a
    day doesn't accumulate an O(commits) metadata scan per read.
    Rebases history: time travel / diff older than the base loses
    per-version granularity (exactly the trade VACUUMing a Delta/
    Iceberg table makes).

    Concurrency + crash safety: the log is compacted IN PLACE — the
    commits directory is never renamed or exchanged, which is what
    keeps lock-free ``idempotent_append`` writers safe (any
    swap-the-namespace design lets a writer publish a fresh number
    into the about-to-be-discarded directory, or lets two writers win
    the SAME number in the old and new directories — silent loss
    either way). Instead:

    1. The merged base is written to a temp file and ``os.rename``\\ d
       over the LOWEST commit file (atomic replace: readers see the
       old commit or the full base, never a torn file). Replacing
       that commit's content with the union of commits 0..cut-1 is
       validation-equivalent — every file named was already published
       at a number below every writer's fence.
    2. The remaining merged commit files are unlinked one by one. A
       reader listing mid-unlink sees the base PLUS a subset of the
       merged commits; the union names some data files twice, which
       ``_files``'s path-dedupe collapses — every intermediate state
       reads as exactly the committed table.

    A crash at any step leaves a log that still reads correctly
    (worst case: some merged commits linger next to the base until
    the next compaction). Concurrent appends are untouched: numbers
    are monotone, ``_put_if_absent`` never observes a missing
    directory, and nothing here touches numbers above the snapshot's
    max. The table flock only serializes compaction against other
    MAINTENANCE (vacuum / another compaction), not against writers.
    Returns the number of commits merged."""
    from smart_meter_data_pipeline_spark.sources.txn import table_lock

    if isinstance(table, ManifestBranch):
        raise ValueError(
            "compact_log is a main-table maintenance operation; a "
            "branch's visible prefix is frozen main history and must "
            "not be rewritten through a branch handle"
        )
    with table_lock(table.table_dir):
        numbered = table.numbered_snapshot()
        if len(numbered) <= max(keep_last, 1):
            return 0
        cut = len(numbered) - keep_last
        # Tags are GC roots (Iceberg ref-based retention): a tagged
        # commit must stay individually addressable, and the merged
        # base REUSES the lowest number — so merging a tagged commit
        # would silently point its tag at different content. Clamp the
        # cut to before the oldest tagged commit. Branch BASES are GC
        # roots for the same reason, with a sharper failure mode: the
        # merged base reuses number 0 while representing commits up to
        # the cut, so merging past a branch base would silently widen
        # the frozen prefix that branch reads.
        tagged = {t["commit_number"] for t in table.list_tags()} | {
            b["base_commit_number"] for b in table.list_branches()
        }
        if tagged:
            for i in range(cut):
                if numbered[i][0] in tagged:
                    cut = i
                    break
        if cut < 2:
            # merging 0 or 1 commits is a no-op (the base IS the commit)
            return 0
        base = numbered[:cut]
        # NUMBERS ARE PRESERVED: the base reuses the lowest existing
        # number (0 in practice), the tail keeps its original numbers.
        # Gaps where merged commits used to be are deliberate — see
        # next_commit_number() for why appends must never re-use them.
        base_num = base[0][0]
        # The base nets out copy-on-write removals WITHIN the merged
        # prefix (a file added then removed by merged commits is gone
        # from the log — after this its stage dir becomes vacuumable);
        # tail commits keep their own removed lists, which may still
        # reference base files (applied in order by _files).
        base_schema = ManifestTable._evolved_schema([c for _, c in base])
        net_rel = set(table._net_relfiles([c for _, c in base]))
        base_stats = {
            rel: r
            for _, c in base
            for rel, r in c.get("stats", {}).items()
            if rel in net_rel
        }
        base_blooms = {
            rel: b
            for _, c in base
            for rel, b in c.get("blooms", {}).items()
            if rel in net_rel
        }
        merged = {
            "version": base_num,
            "added": table._net_relfiles([c for _, c in base]),
            "count": sum(c.get("count", 0) for _, c in base),
            "dates": sorted(
                {d for _, c in base for d in c.get("dates", [])}
            ),
            "compacted_from": cut,
            "schema": base_schema.json() if base_schema else None,
            "stats": base_stats,
            "blooms": base_blooms,
            # ALTER DROP COLUMN markers inside the merged prefix are
            # already folded into base_schema; the dropped-type
            # tombstones carry over (latest wins) so the re-add-with-
            # different-type guard survives compaction for columns
            # still absent from the base schema.
            "dropped_types": {
                name: tp
                for _, c in base
                for name, tp in (c.get("dropped_types") or {}).items()
                if base_schema is None
                or name not in {f.name for f in base_schema.fields}
            },
            # The base REPRESENTS the table as of the last merged
            # commit, so it inherits that commit's timestamp: asof
            # reads inside the merged range are no longer resolvable
            # (the same granularity loss Delta log cleanup accepts).
            "committed_at": base[-1][1].get("committed_at"),
        }
        # Merge-on-read bookkeeping survives compaction: the applied
        # high-water and any still-pending tombstone records carry
        # over verbatim (records are self-describing via their
        # original ``upto`` numbers), and — whenever pending
        # tombstones exist anywhere in the log — the base records each
        # merged file's ORIGINAL commit number so tombstone
        # applicability (origin <= upto) keeps meaning "rows written
        # before the delete", not "rows that happen to sit in the
        # base".
        merged_high = max(
            (c.get("mor_applied_upto", -1) for _, c in base), default=-1
        )
        if merged_high >= 0:
            merged["mor_applied_upto"] = merged_high
        full_high = ManifestTable._mor_high_water([c for _, c in numbered])
        kept_tombs = sorted(
            (
                t
                for _, c in base
                for t in c.get("tombstones", [])
                if t["upto"] > full_high
            ),
            key=lambda t: t["upto"],
        )
        if kept_tombs:
            merged["tombstones"] = kept_tombs
        if table._pending_tombstones(numbered):
            merged["added_numbers"] = {
                os.path.relpath(p, table.data_dir): n
                for p, n in table._file_origins(base).items()
            }
        tmp = table._commit_path(base_num) + f".compacting.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(merged, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, table._commit_path(base_num))
        for num, _ in base[1:]:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(table._commit_path(num))
        return cut


Z_BITS = 10  # per-column bucket resolution of the Z-order/Hilbert key


def _bucket_sqls(df, cols: list[str]) -> list[str]:
    """Min/max-normalized {Z_BITS}-bit bucket SQL per column
    (timestamps via epoch seconds) — the shared front half of both
    space-filling-curve keys. Returned as SQL strings so callers can
    inline them into larger expressions (the Hilbert fold). The
    min/max pass is one bounded aggregation over the files being
    rewritten (a 1-row collect — scalars, not data)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def col_sql(c: str) -> str:
        f = df.schema[c]
        if isinstance(f.dataType, T.TimestampType):
            return f"unix_timestamp(`{c}`)"
        return f"CAST(`{c}` AS BIGINT)"

    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.min(F.expr(col_sql(c))).alias(f"mn_{i}"))
        aggs.append(F.max(F.expr(col_sql(c))).alias(f"mx_{i}"))
    row = df.agg(*aggs).collect()[0]
    cap = (1 << Z_BITS) - 1
    out = []
    for ci, c in enumerate(cols):
        mn = row[f"mn_{ci}"] or 0
        mx = row[f"mx_{ci}"] or 0
        span = max(1, mx - mn)
        out.append(
            f"CAST(greatest(least((({col_sql(c)} - {mn}) * {cap})"
            f" div {span}, {cap}), 0) AS BIGINT)"
        )
    return out


def _zorder_column(spark: SparkSession, df, cols: list[str]):
    """Bit-interleaved Z-order key over ``cols``: each column's
    {Z_BITS}-bit bucket bits are interleaved column-round-robin."""
    from pyspark.sql import functions as F

    buckets = [F.expr(s) for s in _bucket_sqls(df, cols)]
    n = len(cols)
    z = F.lit(0).cast("bigint")
    for ci, bucket in enumerate(buckets):
        for b in range(Z_BITS):
            z = z + F.shiftleft(
                F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                b * n + ci,
            ).cast("bigint")
    return z


def _hilbert_column(spark: SparkSession, df, cols: list[str]):
    """2-D HILBERT-curve key over ``cols`` — the locality upgrade
    over Z-order (Databricks liquid clustering's curve): the Hilbert
    curve has no Z-shaped jumps, so consecutive key ranges are always
    edge-adjacent squares and each packed file's (col1, col2)
    bounding box is tighter for the same file count — strictly better
    metadata skipping on 2-D range slices, measured by the
    comparative layout test (tests/test_zorder.py).

    The classic xy2d transform (quadrant index + rotate/flip per
    level, {Z_BITS} levels) runs as a Catalyst ``aggregate()`` fold
    over the level sequence with an (x, y, d) accumulator struct —
    the recurrence stays a LINEAR plan (unrolling it into nested
    column expressions quadruples the tree per level: 4^{Z_BITS}
    nodes OOMs the driver before a single row moves). Pure int64
    arithmetic, JVM-side, no UDF; bucketization shares
    :func:`_bucket_exprs` with Z-order. Validated bijective +
    unit-step-adjacent against the reference xy2d for every grid
    order up to 2^{Z_BITS} (tests/test_zorder.py)."""
    from pyspark.sql import functions as F

    if len(cols) != 2:
        raise ValueError(
            "hilbert layout supports exactly 2 cluster columns "
            f"(got {len(cols)}); use zorder for 3+"
        )
    x_sql, y_sql = _bucket_sqls(df, cols)
    fold = f"""
aggregate(
  sequence({Z_BITS - 1}, 0, -1),
  named_struct('x', {x_sql}, 'y', {y_sql}, 'd', CAST(0 AS BIGINT)),
  (acc, b) -> named_struct(
    'x', IF((acc.y & shiftleft(CAST(1 AS BIGINT), b)) = 0,
            IF((acc.x & shiftleft(CAST(1 AS BIGINT), b)) > 0,
               shiftleft(CAST(1 AS BIGINT), b) - 1 - acc.y, acc.y),
            acc.x),
    'y', IF((acc.y & shiftleft(CAST(1 AS BIGINT), b)) = 0,
            IF((acc.x & shiftleft(CAST(1 AS BIGINT), b)) > 0,
               shiftleft(CAST(1 AS BIGINT), b) - 1 - acc.x, acc.x),
            acc.y),
    'd', acc.d + shiftleft(CAST(1 AS BIGINT), 2 * b) *
         ((CAST(3 AS BIGINT) *
           IF((acc.x & shiftleft(CAST(1 AS BIGINT), b)) > 0,
              CAST(1 AS BIGINT), CAST(0 AS BIGINT))) ^
          IF((acc.y & shiftleft(CAST(1 AS BIGINT), b)) > 0,
             CAST(1 AS BIGINT), CAST(0 AS BIGINT)))
  ),
  acc -> acc.d
)"""
    return F.expr(fold)


def optimize_table(
    table: ManifestTable,
    spark: SparkSession,
    small_file_bytes: int = 32 * 1024 * 1024,
    target_partitions: int | None = None,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
    hilbert: bool = False,
) -> dict:
    """Bin-packing file compaction — the OPTIMIZE of the manifest
    world, and the operational answer to the small-file problem a
    micro-batch ingest accumulates (ten thousand 100 KB files make a
    100 TB table unreadable regardless of total size: per-file open
    cost dominates the scan and the driver's split planning).

    Live files under ``small_file_bytes`` are read once, rewritten as
    ``target_partitions`` right-sized files (default: total small
    bytes / small_file_bytes, min 1), and swapped in with ONE
    copy-on-write commit (rewrites ``added``, originals ``removed``)
    — rows are untouched, so readers before/after see identical
    contents, old versions still time-travel, and the originals
    become reclaimable once log compaction nets them out (the same
    delete → compact → vacuum lifecycle as mutations).

    ``cluster_by`` is OPTIMIZE ZORDER's role here: the rewrite is
    range-partitioned and sorted on those columns, so each packed
    file covers a narrow key range — which is exactly what makes the
    per-file min/max stats in the commit (and therefore the
    mutations' file skipping) selective. Packing without clustering
    shrinks file COUNT; packing with it also shrinks every file's
    stats RANGE.

    ``zorder=True`` (with >= 2 ``cluster_by`` columns) interleaves
    instead of nesting: lexicographic clustering gives the FIRST
    column narrow per-file ranges and leaves every later column's
    range as wide as the whole table (a predicate on the second
    column alone prunes nothing). The Z-order rewrite min/max-
    normalizes each column to a {Z_BITS}-bit bucket and range-
    partitions on the bit-interleaved key, so EVERY clustered
    column's per-file range narrows like sqrt-of-file-count — the
    Delta/Iceberg OPTIMIZE ZORDER trade. Numeric and timestamp
    columns are supported (timestamps via epoch seconds); the
    transform is layout-only, rows untouched.

    ``hilbert=True`` (exactly 2 ``cluster_by`` columns) swaps the
    curve for the 2-D HILBERT key (:func:`_hilbert_column`) —
    jump-free locality, tighter per-file bounding boxes than Z-order
    at the same file count (the Databricks liquid-clustering curve).

    Runs under the table flock (serializes with other maintenance);
    publishes through put-if-absent at a fence from the SAME listing
    it selected files from, so a lock-free append landing mid-rewrite
    costs only a clean retry. Returns
    ``{"files_rewritten": n, "files_created": m, "rounds": r}``."""
    from smart_meter_data_pipeline_spark.sources.txn import table_lock

    with table_lock(table.table_dir):
        for attempt in range(5):
            numbered = table.numbered_snapshot()
            commits = [c for _, c in numbered]
            fence = table._fence(numbered)
            if table._pending_tombstones(numbered):
                raise PendingTombstonesError(
                    f"{table.table_dir} has pending merge-on-read "
                    "tombstones; run apply_tombstones() before OPTIMIZE"
                )
            live = table._files(commits)
            small = [
                f
                for f in live
                if os.path.exists(f)
                and os.path.getsize(f) < small_file_bytes
            ]
            if len(small) <= 1:
                return {
                    "files_rewritten": 0,
                    "files_created": 0,
                    "rounds": attempt,
                }
            total = sum(os.path.getsize(f) for f in small)
            n_out = target_partitions or max(
                1, total // small_file_bytes
            )
            schema = table._evolved_schema(commits)
            reader = spark.read
            if schema is not None:
                reader = reader.schema(schema)
            src_df = reader.parquet(*small)
            if cluster_by and (zorder or hilbert) and len(cluster_by) >= 2:
                curve = _hilbert_column if hilbert else _zorder_column
                zcol = curve(spark, src_df, cluster_by)
                packed = (
                    src_df.withColumn("__z", zcol)
                    .repartitionByRange(int(n_out), "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            elif cluster_by:
                packed = src_df.repartitionByRange(
                    int(n_out), *cluster_by
                ).sortWithinPartitions(*cluster_by)
            else:
                packed = src_df.repartition(int(n_out))
            staged = table._stage(packed)
            n_staged = spark.read.parquet(
                *(os.path.join(table.data_dir, f) for f in staged)
            ).count()
            removed_rel = sorted(
                os.path.relpath(f, table.data_dir) for f in small
            )
            # Dates over-approximate (union of all commit dates):
            # safe for the date-pruned validation scan — it may read
            # the packed files unnecessarily, never miss them.
            dates = sorted(
                {
                    d
                    for c in commits
                    for d in c.get("dates", [])
                }
            )
            payload = json.dumps(
                {
                    "version": fence,
                    "added": staged,
                    "removed": removed_rel,
                    "count": n_staged,
                    "dates": dates,
                    "schema": schema.json() if schema else None,
                    "stats": table._file_stats(staged),
                    "blooms": table._file_blooms(staged),
                    "optimize": True,
                    "committed_at": time.time(),
                }
            ).encode()
            if table._pre_publish_hook is not None:
                table._pre_publish_hook()
            if _put_if_absent(table._commit_path(fence), payload):
                return {
                    "files_rewritten": len(small),
                    "files_created": len(staged),
                    "rounds": attempt + 1,
                }
            table._discard_stage_all(staged)
        raise CommitConflictError(
            f"optimize gave up after 5 attempts on {table.table_dir}"
        )


def apply_tombstones(
    table: ManifestTable, spark: SparkSession, max_retries: int = 5
) -> dict:
    """Reconcile every pending merge-on-read tombstone into physical
    rewrites — Delta's ``REORG TABLE ... APPLY (PURGE)``: files that
    actually CONTAIN governed keys are rewritten minus the matches
    (stats-skipped and semi-join-detected, so untouched files stay
    untouched), and one commit swaps them in and advances the
    ``mor_applied_upto`` high-water, after which the tombstone records
    are inert and their key files vacuumable.

    All pending tombstones are applied in ONE pass with the same
    origin-suffix grouping the read path uses — applying them one at a
    time would bump rewritten files' origins past the remaining
    tombstones and resurrect rows. Logical table content is unchanged
    (read() before == read() after), which the manifest_mor_roundtrip
    driver query certifies under the hash gate.

    Returns ``{"applied_tombstones": n, "files_rewritten": m,
    "files_created": k, "rows_deleted": d}``."""
    import bisect

    from smart_meter_data_pipeline_spark.sources.txn import table_lock

    with table_lock(table.table_dir):
        for _ in range(max_retries):
            numbered = table.numbered_snapshot()
            commits = [c for _, c in numbered]
            fence = table._fence(numbered)
            pending = table._pending_tombstones(numbered)
            if not pending:
                return {
                    "applied_tombstones": 0,
                    "files_rewritten": 0,
                    "files_created": 0,
                    "rows_deleted": 0,
                }
            origins = table._file_origins(numbered)
            live = table._files(commits)
            ev_schema = table._evolved_schema(commits)
            uptos = [t["upto"] for t in pending]
            groups: dict[int, list[str]] = {}
            for f in live:
                i = bisect.bisect_left(uptos, origins.get(f, -1))
                if i < len(pending):
                    groups.setdefault(i, []).append(f)
            staged_all: list[str] = []
            removed_rel: list[str] = []
            staged_stats: dict[str, dict] = {}
            n_deleted = 0
            # Each tombstone's key frame is built ONCE per attempt and
            # persisted (r15, VERDICT r14 #4): the same frame feeds
            # the range/bloom pruning, the affected-detection
            # semi-join and the survivor anti-join — and is reused
            # across origin groups — where before every consumer
            # re-read the key parquet from scratch.
            # Appended one at a time inside the try, so a failure
            # partway through still unpersists the frames built so far.
            tkeys = []
            try:
                for t in pending:
                    tkeys.append(table._tombstone_keys(spark, t).persist())
                for i, grp in sorted(groups.items()):
                    tombs = pending[i:]
                    # File skipping: keep a file only if its recorded
                    # stats intersect at least one applicable
                    # tombstone's key range — a narrow-key delete
                    # rewrites only its range.
                    cand: set[str] = set()
                    for j, t in enumerate(tombs, start=i):
                        keys = tkeys[j]
                        # pk-only pruning (round-9 fix, same rule as
                        # the CoW path): the anti-join matches on the
                        # tombstone's recorded pk — extra key-frame
                        # columns must not skip files
                        t_pk = set(t.get("pk", []))
                        stat_cols = [
                            c
                            for c in table.stats_columns
                            if c in t_pk and c in keys.columns
                        ]
                        if not stat_cols:
                            cand.update(grp)
                            continue
                        ranges = table._batch_key_ranges(keys, stat_cols)
                        pruned = table._prune_by_stats(
                            grp, commits, ranges
                        )
                        pruned = table._prune_candidates_by_bloom(
                            pruned,
                            commits,
                            keys.select(
                                *[c for c in keys.columns if c in t_pk]
                            ),
                        )
                        cand.update(pruned)
                    if not cand:
                        continue
                    reader = spark.read
                    if ev_schema is not None:
                        reader = reader.schema(ev_schema)
                    tagged = reader.parquet(*sorted(cand)).withColumn(
                        "_file", F.input_file_name()
                    )
                    affected = None
                    for j, t in enumerate(tombs, start=i):
                        m = tagged.join(
                            tkeys[j], t["pk"], "left_semi"
                        ).select("_file")
                        affected = (
                            m
                            if affected is None
                            else affected.unionByName(m)
                        )
                    affected_uris = [
                        r["_file"] for r in affected.distinct().collect()
                    ]
                    if not affected_uris:
                        continue
                    # rows_deleted bookkeeping without data scans:
                    # n_before from the commit log's recorded "#rows"
                    # stats (r15 — footer fallback only for statless
                    # files), n_after from the staged survivors'
                    # footer stats, which the commit payload needs
                    # anyway (computed once here, reused there).
                    grp_removed = sorted(
                        table._rel(u) for u in affected_uris
                    )
                    n_before = table._recorded_rows(commits, grp_removed)
                    survivors = tagged.filter(
                        F.col("_file").isin(affected_uris)
                    )
                    for j, t in enumerate(tombs, start=i):
                        survivors = survivors.join(
                            tkeys[j], t["pk"], "left_anti"
                        )
                    survivors = survivors.drop("_file")
                    staged = table._stage(survivors)
                    staged_all += staged
                    removed_rel += grp_removed
                    st = table._file_stats(staged)
                    staged_stats.update(st)
                    n_after = sum(v["#rows"] for v in st.values())
                    n_deleted += n_before - n_after
            finally:
                for k in tkeys:
                    k.unpersist()
            if staged_all and "reading_timestamp" in (
                f.name for f in (ev_schema.fields if ev_schema else [])
            ):
                # count from the staged footers' stats (already read
                # for the commit payload — zero extra I/O); the scan
                # below reads ONLY the timestamp column for the dates
                # set (r15 — was count + collect_set over a full scan).
                n_staged = sum(
                    v["#rows"] for v in staged_stats.values()
                )
                added_dates = sorted(
                    r["d"]
                    for r in spark.read.parquet(
                        *(
                            os.path.join(table.data_dir, f)
                            for f in staged_all
                        )
                    )
                    .select(
                        F.to_date("reading_timestamp")
                        .cast("string")
                        .alias("d")
                    )
                    .where(F.col("d").isNotNull())
                    .distinct()
                    .collect()
                )
            elif staged_all:
                n_staged = sum(
                    v["#rows"] for v in staged_stats.values()
                )
                # no timestamp column to derive dates from: record the
                # union of all commit dates (over-approximation is safe
                # for add-side pruning)
                added_dates = sorted(
                    {d for c in commits for d in c.get("dates", [])}
                )
            else:
                n_staged, added_dates = 0, []
            payload = json.dumps(
                {
                    "version": fence,
                    "added": staged_all,
                    "removed": sorted(removed_rel),
                    "count": n_staged,
                    "dates": added_dates,
                    # per-group footer stats, computed once in the
                    # rewrite loop (r15 — was a second footer pass
                    # over every staged file here)
                    "stats": staged_stats,
                    "blooms": table._file_blooms(staged_all),
                    # Logical content is unchanged by the apply — the
                    # deletes were already visible via the tombstones —
                    # so no removed_dates/batch_dates for CDC.
                    "removed_dates": [],
                    "batch_dates": [],
                    "schema": ev_schema.json() if ev_schema else None,
                    "mor_applied_upto": uptos[-1],
                    "committed_at": time.time(),
                }
            ).encode()
            if table._pre_publish_hook is not None:
                table._pre_publish_hook()
            if _put_if_absent(table._commit_path(fence), payload):
                return {
                    "applied_tombstones": len(pending),
                    "files_rewritten": len(removed_rel),
                    "files_created": len(staged_all),
                    "rows_deleted": n_deleted,
                }
            table._discard_stage_all(staged_all)
        raise CommitConflictError(
            f"apply_tombstones gave up after {max_retries} attempts on "
            f"{table.table_dir}"
        )


def restore_version(table: ManifestTable, version: int) -> dict:
    """RESTORE TABLE ... TO VERSION — roll the table's LIVE state back
    to what ``version`` saw, as ONE new commit and ZERO data movement:
    the commit re-adds the target version's file references that later
    commits removed and removes files later commits added (Delta's
    RESTORE is the same metadata move). History is preserved — the
    reverted commits stay in the log, time travel still reaches them,
    and the restore itself is just another version that concurrent
    readers flip to atomically.

    Requires every target file to still exist (an aged vacuum after a
    compaction can have reclaimed CoW originals — then the restore
    point is gone and this raises instead of publishing a half-readable
    state). ``removed_dates`` records the union of the reverted
    commits' dates so the incremental-refresh feed
    (changed_dates_since) re-derives every date the rollback could
    have touched. Additive schema evolution is NOT reverted: the read
    schema stays the union of all recorded schemas, so post-version
    columns read as NULL on restored rows — documented Delta-parity
    gap (Delta restores the schema pointer; a union-schema log has no
    pointer to move).

    Runs under the table flock; publishes via put-if-absent at a fence
    from the same listing it validated against (lost race → clean
    retry). Returns {"files_readded": n, "files_removed": m,
    "restored_version": version}."""
    from smart_meter_data_pipeline_spark.sources.txn import table_lock

    with table_lock(table.table_dir):
        for _ in range(5):
            numbered = table.numbered_snapshot()
            commits = [c for _, c in numbered]
            if table._pending_tombstones(numbered):
                raise PendingTombstonesError(
                    f"{table.table_dir} has pending merge-on-read "
                    "tombstones; run apply_tombstones() before RESTORE"
                )
            if not (0 <= version < len(commits)):
                raise ValueError(
                    f"version {version} out of range: table has "
                    f"{len(commits)} commits"
                )
            fence = table._fence(numbered)
            target = set(table._net_relfiles(commits[: version + 1]))
            current = set(table._net_relfiles(commits))
            readd = sorted(target - current)
            remove = sorted(current - target)
            missing = [
                f
                for f in readd
                if not os.path.exists(os.path.join(table.data_dir, f))
            ]
            if missing:
                raise ValueError(
                    f"cannot restore to version {version}: "
                    f"{len(missing)} of its files were vacuumed "
                    f"(e.g. {missing[0]})"
                )
            if not readd and not remove:
                return {
                    "files_readded": 0,
                    "files_removed": 0,
                    "restored_version": version,
                }
            # Every date a reverted commit TOUCHED is re-derived by the
            # rollback — not only the dates it added rows to ("dates")
            # but also dates it removed rows from (a reverted CoW
            # delete that emptied a date re-adds that date's rows) and
            # dates it restated ("batch_dates"). Missing any of them
            # leaves changed_dates_since blind and incremental marts
            # stale.
            reverted_dates = sorted(
                {
                    d
                    for c in commits[version + 1 :]
                    for d in (
                        list(c.get("dates", []))
                        + list(c.get("removed_dates", []))
                        + list(c.get("batch_dates", []))
                    )
                }
            )
            target_schema = table._evolved_schema(commits[: version + 1])
            payload = json.dumps(
                {
                    "version": fence,
                    "added": readd,
                    "removed": remove,
                    # count/dates describe the re-added files: their
                    # dates come from the commits that first added
                    # them, which the target prefix recorded.
                    "count": 0,
                    "dates": sorted(
                        {
                            d
                            for c in commits[: version + 1]
                            for d in c.get("dates", [])
                        }
                    ),
                    "stats": table._file_stats(readd),
                    "blooms": table._file_blooms(readd),
                    "removed_dates": reverted_dates,
                    "batch_dates": [],
                    "schema": (
                        target_schema.json() if target_schema else None
                    ),
                    "restore_of": version,
                    "committed_at": time.time(),
                }
            ).encode()
            if table._pre_publish_hook is not None:
                table._pre_publish_hook()
            if _put_if_absent(table._commit_path(fence), payload):
                return {
                    "files_readded": len(readd),
                    "files_removed": len(remove),
                    "restored_version": version,
                }
        raise CommitConflictError(
            f"restore gave up after 5 attempts on {table.table_dir}"
        )


def vacuum_unreferenced(
    table: ManifestTable, ttl_s: float = 3600.0, dry_run: bool = False
) -> int | list[str]:
    """Delete data FILES no commit references — crashed-writer stage
    leaks, and copy-on-write originals once compaction nets their
    removal out of the log (the Delta VACUUM lifecycle). File-level,
    not directory-level: a partially-rewritten stage dir can hold
    both live and dead files (empty part files a delete didn't touch
    next to removed ones). TTL-guarded so an IN-FLIGHT writer's
    freshly staged files are never swept: only files older than
    ``ttl_s`` go; directories left empty are pruned. Runs under the
    table lock; returns the number of files removed. Refuses to run
    while a stranded ``.old`` log dir exists (legacy
    interrupted-compaction marker): until that log is restored, the
    current commits dir may under-report references and the sweep
    would delete live data.

    ``dry_run=True`` returns the data-dir-relative paths the sweep
    WOULD delete (same TTL rules) without touching a byte — the
    audit an operator runs before the first destructive vacuum of a
    production table."""
    from smart_meter_data_pipeline_spark.sources.txn import table_lock

    if isinstance(table, ManifestBranch):
        raise ValueError(
            "vacuum_unreferenced is a main-table maintenance "
            "operation (it sweeps the shared data dir); run it "
            "through the parent table handle"
        )
    if os.path.isdir(table.commits_dir + ".old"):
        raise RuntimeError(
            f"refusing to vacuum {table.table_dir}: stranded "
            f"'{COMMITS_DIRNAME}.old' dir present — reopen the table "
            "(ManifestTable restores the displaced log) and retry"
        )
    with table_lock(table.table_dir):
        commits_all = table.snapshot()
        referenced = {f for c in commits_all for f in c["added"]}
        # Pending merge-on-read tombstone key files are live metadata
        # (readers anti-join them every read); applied ones are inert
        # and sweepable like any other unreferenced stage.
        high = ManifestTable._mor_high_water(commits_all)
        referenced |= {
            r
            for c in commits_all
            for t in c.get("tombstones", [])
            if t["upto"] > high
            for r in t["rels"]
        }
        # Branch logs are GC roots: a branch's commits reference data
        # files no main commit names (shared data dir — the point of
        # metadata-only branching). Each branch view computes its OWN
        # MoR high-water — branch commit numbers exceed main's, so
        # folding them into one pool would wrongly raise main's
        # high-water and sweep still-pending main tombstone keys.
        for b in table.list_branches():
            bv = table.branch(b["name"]).numbered_snapshot()
            b_commits = [c for _, c in bv]
            referenced |= {f for c in b_commits for f in c["added"]}
            b_high = ManifestTable._mor_high_water(b_commits)
            referenced |= {
                r
                for c in b_commits
                for t in c.get("tombstones", [])
                if t["upto"] > b_high
                for r in t["rels"]
            }
        removed = 0
        would: list[str] = []
        now = time.time()
        for name in os.listdir(table.data_dir):
            p = os.path.join(table.data_dir, name)
            if not os.path.isdir(p):
                continue
            entries = os.listdir(p)
            dir_has_live = any(
                os.path.join(name, f) in referenced for f in entries
            )
            for fname in entries:
                rel = os.path.join(name, fname)
                fp = os.path.join(p, fname)
                if rel in referenced:
                    continue
                # non-data markers (_SUCCESS) stay with a live dir;
                # they go only when the whole stage is dead
                if not fname.endswith(".parquet") and dir_has_live:
                    continue
                if now - os.path.getmtime(fp) < ttl_s:
                    continue
                if dry_run:
                    would.append(rel)
                    continue
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(fp)
                    removed += 1
            if not dry_run and not os.listdir(p):
                with contextlib.suppress(OSError):
                    os.rmdir(p)
        return sorted(would) if dry_run else removed


def _classify_footers_distributed(
    spark: SparkSession,
    paths: list[str],
    column: str,
    lo_i,
    hi_i,
) -> list[tuple]:
    """Footer-based retention classification for files the commit log
    cannot classify (written before null-count tracking, or a column
    outside ``stats_columns``) — run as a SPARK JOB over the path
    list, one bounded ``(path, class, rows)`` tuple per file back to
    the driver. This is the fallback half of stats-first
    ``delete_where``: at 10⁵-10⁶ files a serial driver loop of
    footer reads is a million metadata round-trips before a single
    delete lands; distributing it prices the sweep at one short
    all-executor stage. The closure is fully self-contained (inlined
    stat normalization, imports inside) — Python workers launched
    outside the repo cannot resolve package references.

    Classes: ``drop`` (fully covered by [lo, hi], null-free — whole
    file deletable by metadata), ``disjoint`` (untouched), and
    ``rewrite`` (straddling, null-bearing, or footer-statless)."""
    if not paths:
        return []
    sc = spark.sparkContext
    n_slices = max(1, min(len(paths), sc.defaultParallelism * 4))
    col_name = column

    def _part(it):
        import datetime as dtmod

        import pyarrow.parquet as pq

        def norm(v):
            if isinstance(v, bool):
                return None
            if isinstance(v, int):
                return v
            if isinstance(v, float):
                return None if v != v else v
            if isinstance(v, dtmod.datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=dtmod.timezone.utc)
                return int(v.timestamp() * 1_000_000)
            return None

        for p in it:
            md = pq.read_metadata(p)
            mn = mx = None
            nulls = 0
            known = True
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                got = False
                for j in range(rg.num_columns):
                    col = rg.column(j)
                    if col.path_in_schema != col_name:
                        continue
                    got = True
                    s = col.statistics
                    if (
                        s is None
                        or not s.has_min_max
                        or s.null_count is None
                    ):
                        known = False
                        break
                    smn, smx = norm(s.min), norm(s.max)
                    if smn is None or smx is None:
                        known = False
                        break
                    nulls += s.null_count
                    mn = smn if mn is None else min(mn, smn)
                    mx = smx if mx is None else max(mx, smx)
                if not got or not known:
                    known = False
                    break
            if not known or mn is None:
                yield (p, "rewrite", 0)
            elif mx < lo_i or mn > hi_i:
                yield (p, "disjoint", 0)
            elif lo_i <= mn and mx <= hi_i and nulls == 0:
                yield (p, "drop", md.num_rows)
            else:
                yield (p, "rewrite", 0)

    return sc.parallelize(paths, n_slices).mapPartitions(_part).collect()


def delete_where(
    table: ManifestTable,
    spark: SparkSession,
    column: str,
    lo=None,
    hi=None,
    max_retries: int = 20,
    mode: str = "cow",
    pk: list[str] = PK,
) -> dict:
    """Range DELETE with whole-file drops — the retention /
    right-to-be-forgotten sweep (``DELETE WHERE ts < cutoff``) priced
    by what it touches, not by the table: every live file is
    classified from its parquet FOOTER (min/max + null count for
    ``column`` — driver-side metadata, no data scan, works for ANY
    column, not just configured stats columns):

    - fully covered by [lo, hi] and null-free in the column →
      DROPPED by a metadata-only commit (the partition-drop price:
      zero bytes moved — this is the whole point of time-clustered
      layouts for retention);
    - disjoint → untouched;
    - straddling, null-bearing, or footer-statless → copy-on-write
      rewrite keeping rows OUTSIDE the range (NULLs survive — SQL
      DELETE's three-valued WHERE never matches NULL).

    Same optimistic protocol as the key mutations: one listing
    supplies the validated file set and the publish fence; pending
    MoR tombstones abort (raw-file reads); a lost put-if-absent
    discards the stage and reruns. Bounds as ints or timestamps
    (open ends allowed). Returns
    ``{"files_dropped", "files_rewritten", "rows_deleted"}``.

    Classification is STATS-FIRST (round 11): when the commit log
    already records ``column``'s [min, max, null_count] and the
    file's row count (every commit since null-count tracking), the
    file is classified with ZERO per-file IO — a retention sweep
    over a million-file table is then one log listing, not a million
    serial footer round-trips on the driver. Soundness is the same
    immutability argument as read-path skipping: data files never
    change, so recorded stats bound actual contents. Files the log
    cannot classify (legacy commits without null counts, statless
    columns) fall back to footer reads run DISTRIBUTED as a Spark
    job — the driver collects one bounded classification tuple per
    file, never the footers themselves.

    ``mode="mor"`` (round 11) changes how STRADDLERS are settled:
    instead of a copy-on-write rewrite, the matching rows' pk tuples
    are staged as a standard keyed tombstone, published in the SAME
    commit as the whole-file drops — one atomic metadata commit,
    zero data files rewritten. This is the retention sweep for
    UNCLUSTERED tables, where every file straddles the cutoff and
    CoW mode would rewrite the whole table: cost is one predicate
    scan of the straddlers (key projection only), and
    :func:`apply_tombstones` reconciles the read tax later, exactly
    the ``delete_keys_mor`` lifecycle. Both modes abort on pending
    tombstones (the straddler scan reads files raw, and the drop
    accounting assumes no logically-deleted rows)."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    lo_i = table._stat_int(lo) if lo is not None else -(2**62)
    hi_i = table._stat_int(hi) if hi is not None else 2**62
    if (lo is not None and lo_i is None) or (
        hi is not None and hi_i is None
    ):
        # fail fast with the real constraint instead of a TypeError
        # deep in the classification loop — the retention predicate
        # is numeric/timestamp by design (string zone maps serve the
        # READ path only)
        raise ValueError(
            "delete_where bounds must be int, float, or timestamp; "
            f"got lo={lo!r} hi={hi!r}"
        )
    for _ in range(max_retries):
        numbered = table.numbered_snapshot()
        commits = [c for _, c in numbered]
        fence = table._fence(numbered)
        if table._pending_tombstones(numbered):
            raise PendingTombstonesError(
                f"{table.table_dir} has pending merge-on-read "
                "tombstones; run apply_tombstones() before "
                "copy-on-write mutations"
            )
        live = table._files(commits)
        recorded: dict[str, object] = {}
        for c in commits:
            recorded.update(c.get("stats", {}))
        dropped: list[str] = []
        rewrite: list[str] = []
        unknown: list[str] = []
        dropped_rows = 0
        for f in live:
            if not os.path.exists(f):
                # A live commit-log entry whose data file is gone is
                # table corruption (a vacuum raced a reader, or the
                # data dir was hand-pruned). Blindly scheduling it
                # for rewrite would surface as an opaque
                # PATH_NOT_FOUND from the rewrite read — fail fast
                # with the integrity message instead.
                raise FileNotFoundError(
                    f"live file missing from data dir: {f} is "
                    f"referenced by {table.table_dir}'s commit log "
                    "but absent on disk — the table is corrupt "
                    "(restore the file or repair the log before "
                    "mutating)"
                )
            e = recorded.get(os.path.relpath(f, table.data_dir))
            if isinstance(e, list):
                e = {table.STATS_COLUMN: e}
            ent = (e or {}).get(column)
            nrows = (e or {}).get("#rows")
            if ent is not None and not table._stats_comparable(
                ent[0], lo_i
            ):
                # string-typed record vs the numeric bounds (round 12
                # string zone maps serve reads only): the log cannot
                # classify — footer fallback settles it as "rewrite"
                unknown.append(f)
                continue
            if ent is not None and len(ent) >= 3:
                mn, mx, nulls = ent[0], ent[1], ent[2]
                if mx < lo_i or mn > hi_i:
                    continue  # disjoint: untouched
                elif (
                    lo_i <= mn
                    and mx <= hi_i
                    and nulls == 0
                    and nrows is not None
                ):
                    dropped.append(f)
                    dropped_rows += nrows
                else:
                    rewrite.append(f)
            elif ent is not None:
                # legacy [min, max] record: disjointness is still
                # provable from the log; a covered/straddling file
                # needs the footer's null count to decide drop vs
                # rewrite
                if ent[1] < lo_i or ent[0] > hi_i:
                    continue
                unknown.append(f)
            else:
                unknown.append(f)
        for path, cls, nrows in _classify_footers_distributed(
            spark, unknown, column, lo_i, hi_i
        ):
            if cls == "drop":
                dropped.append(path)
                dropped_rows += nrows
            elif cls == "rewrite":
                rewrite.append(path)
        if not dropped and not rewrite:
            return {
                "files_dropped": 0,
                "files_rewritten": 0,
                "rows_deleted": 0,
            }
        ev_schema = table._evolved_schema(commits)
        if mode == "mor":
            if ev_schema is not None:
                missing = [
                    c
                    for c in pk
                    if c not in {f.name for f in ev_schema.fields}
                ]
                if missing:
                    raise ValueError(
                        f"tombstone pk columns {missing} do not "
                        "exist in the table schema"
                    )
            staged_keys: list[str] = []
            n_del_keys = 0
            if rewrite:
                reader = spark.read
                if ev_schema is not None:
                    reader = reader.schema(ev_schema)
                src = reader.parquet(*rewrite)
                cond = F.lit(True)
                if lo is not None:
                    cond = cond & (F.col(column) >= F.lit(lo))
                if hi is not None:
                    cond = cond & (F.col(column) <= F.lit(hi))
                matching = (
                    src.filter(cond).select(*pk).dropDuplicates(pk)
                )
                n_del_keys = matching.count()
                if n_del_keys:
                    staged_keys = table._stage(matching)
            if not dropped and not n_del_keys:
                return {
                    "files_dropped": 0,
                    "files_rewritten": 0,
                    "rows_deleted": 0,
                    "keys_tombstoned": 0,
                }
            if table._pre_publish_hook is not None:
                table._pre_publish_hook()
            payload = json.dumps(
                {
                    "version": fence,
                    "added": [],
                    "removed": sorted(
                        os.path.relpath(f, table.data_dir)
                        for f in dropped
                    ),
                    "count": 0,
                    "dates": [],
                    "stats": {},
                    "blooms": {},
                    "removed_dates": sorted(
                        {d for c in commits for d in c.get("dates", [])}
                    ),
                    "tombstones": (
                        [
                            {
                                "upto": fence,
                                "rels": staged_keys,
                                "pk": list(pk),
                            }
                        ]
                        if staged_keys
                        else []
                    ),
                    "schema": None,
                    "committed_at": time.time(),
                }
            ).encode()
            if _put_if_absent(table._commit_path(fence), payload):
                return {
                    "files_dropped": len(dropped),
                    "files_rewritten": 0,
                    "rows_deleted": dropped_rows + n_del_keys,
                    "keys_tombstoned": n_del_keys,
                }
            table._discard_stage_all(staged_keys)
            continue
        staged: list[str] = []
        n_rewrite_orig = 0
        n_survivors = 0
        added_dates: list[str] = []
        if rewrite:
            reader = spark.read
            if ev_schema is not None:
                reader = reader.schema(ev_schema)
            src = reader.parquet(*rewrite)
            n_rewrite_orig = src.count()
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(column) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(column) <= F.lit(hi))
            survivors = src.filter(~cond | F.col(column).isNull())
            staged = table._stage(survivors)
            if staged:
                sdf = spark.read.parquet(
                    *(
                        os.path.join(table.data_dir, f)
                        for f in staged
                    )
                )
                # dateless tables record no dates (same guard as
                # idempotent_append / _cow_mutation)
                aggs = [F.count(F.lit(1)).alias("n")]
                has_ts = "reading_timestamp" in sdf.columns
                if has_ts:
                    aggs.append(
                        F.collect_set(
                            F.to_date("reading_timestamp").cast("string")
                        ).alias("dates")
                    )
                stat = sdf.agg(*aggs).collect()[0]
                n_survivors = stat["n"]
                added_dates = sorted(stat["dates"]) if has_ts else []
        removed_rel = sorted(
            os.path.relpath(f, table.data_dir)
            for f in dropped + rewrite
        )
        # removed_dates over-approximates with every commit date —
        # safe for CDC consumers (they re-read more, never less)
        all_dates = sorted(
            {d for c in commits for d in c.get("dates", [])}
        )
        if table._pre_publish_hook is not None:
            table._pre_publish_hook()
        payload = json.dumps(
            {
                "version": fence,
                "added": staged,
                "removed": removed_rel,
                "count": n_survivors,
                "dates": added_dates,
                "stats": table._file_stats(staged),
                "blooms": table._file_blooms(staged),
                "removed_dates": all_dates,
                "schema": ev_schema.json() if ev_schema else None,
                "committed_at": time.time(),
            }
        ).encode()
        if _put_if_absent(table._commit_path(fence), payload):
            return {
                "files_dropped": len(dropped),
                "files_rewritten": len(rewrite),
                "rows_deleted": dropped_rows
                + (n_rewrite_orig - n_survivors),
            }
        table._discard_stage_all(staged)
    raise CommitConflictError(
        f"gave up after {max_retries} delete_where attempts on "
        f"{table.table_dir}"
    )


def schema_history(table: ManifestTable) -> list[dict]:
    """Schema-evolution audit — the schema half of DESCRIBE HISTORY:
    one entry per commit that CHANGED the read schema, with the
    columns it added and dropped (drop markers and additive evolution
    both). Metadata-only (one log listing); the tool an operator
    reaches for when a consumer breaks on a column that 'used to be
    there'."""
    out: list[dict] = []
    prev: dict[str, object] = {}
    running: list[dict] = []
    for n, c in table.numbered_snapshot():
        running.append(c)
        cur_schema = ManifestTable._evolved_schema(running)
        cur = (
            {f.name: f.dataType.simpleString() for f in cur_schema.fields}
            if cur_schema is not None
            else {}
        )
        added = sorted(k for k in cur if k not in prev)
        dropped = sorted(k for k in prev if k not in cur)
        if added or dropped:
            out.append(
                {
                    "version": n,
                    "added_columns": added,
                    "dropped_columns": dropped,
                }
            )
        prev = cur
    return out


def consistent_snapshot(
    tables: dict[str, ManifestTable],
    spark: SparkSession,
    asof: float,
) -> dict[str, DataFrame | None]:
    """One TIMESTAMP across many tables — the cross-table consistent
    read a multi-table report needs (each manifest table commits
    independently, so 'latest of A' joined to 'latest of B' can mix
    states that never coexisted; resolving EVERY table AS OF the same
    instant yields a state that actually existed, because each
    table's commit log is totally ordered by committed_at). Tables
    with no commit at or before ``asof`` map to None (they did not
    exist yet). Metadata-only resolution (version_asof), one read
    per table."""
    out: dict[str, DataFrame | None] = {}
    for name, t in tables.items():
        try:
            out[name] = t.read(spark, asof=asof)
        except ValueError:
            out[name] = None
    return out


def alter_drop_column(table: ManifestTable, column: str) -> int:
    """ALTER TABLE DROP COLUMN — metadata-only: one marker commit
    removes the column from the evolved READ schema; the bytes stay
    in the files (reclaimed only when rewrites/OPTIMIZE naturally
    re-stage them), time travel to any pre-drop version still sees
    the column, and a later append may re-introduce the name — with
    the SAME type only (the marker records the dropped type and the
    schema-compat gate rejects a type-changing re-add, which would
    make pre-drop files unreadable under the new type; Delta solves
    this with column mapping, this log solves it by refusing).

    Refuses to drop PK / stats / bloom / constraint columns — each is
    load-bearing for mutations or skipping. Returns the commit
    number."""
    guards = {
        "pk": list(PK),
        "stats_columns": table.stats_columns,
        "bloom_columns": table.bloom_columns,
    }
    for what, cols in guards.items():
        if column in cols:
            raise ValueError(
                f"cannot drop '{column}': it is a {what} column"
            )
    for c in table.constraints:
        if column in str(c):
            raise ValueError(
                f"cannot drop '{column}': referenced by constraint {c}"
            )
    for attempt in range(20):
        numbered = table.numbered_snapshot()
        commits = [c for _, c in numbered]
        fence = table._fence(numbered)
        schema = table._evolved_schema(commits)
        if schema is None or column not in {f.name for f in schema.fields}:
            raise ValueError(
                f"column '{column}' does not exist in {table.table_dir}"
            )
        post = [f for f in schema.fields if f.name != column]
        dropped = next(
            f for f in schema.fields if f.name == column
        )
        from pyspark.sql.types import StructType

        payload = json.dumps(
            {
                "version": fence,
                "added": [],
                "removed": [],
                "count": 0,
                "dates": [],
                "stats": {},
                "blooms": {},
                "drop_columns": [column],
                "dropped_types": {column: dropped.dataType.json()},
                "schema": StructType(post).json() if post else None,
                "committed_at": time.time(),
            }
        ).encode()
        if _put_if_absent(table._commit_path(fence), payload):
            return fence
    raise CommitConflictError(
        f"gave up after 20 drop-column attempts on {table.table_dir}"
    )


def analyze_table(
    table: ManifestTable,
    spark: SparkSession,
    columns: list[str] | None = None,
    exact_ndv: bool = False,
    mcv_columns: list[str] | None = None,
    mcv_k: int = 16,
) -> dict:
    """ANALYZE TABLE — table-level optimizer statistics in ONE scan:
    row count plus per-column null count, NDV, and (for integer /
    timestamp columns) min / max, persisted to ``_table.json`` under
    ``analyze`` keyed by the snapshot version so a stale profile is
    detectable (``analyzed_stats()`` reports freshness). This is the
    statistics layer a cost-based planner consults for join ordering
    and broadcast decisions — the table-level companion to the
    per-file zone maps (those answer "which files", these answer
    "how big / how selective").

    NDV defaults to ``approx_count_distinct(rsd=0.01)`` — the sketch
    is the only form that scales (exact COUNT(DISTINCT) per column is
    a shuffle per column at 100 TB) and rsd is pinned explicitly
    (the default 0.05 breaches property bounds on a few thousand
    distinct keys). ``exact_ndv=True`` switches to exact counts for
    oracle-checked paths. Timestamp min/max are reduced to UTC epoch
    micros ENGINE-side (``unix_micros``) — never a driver-side
    datetime conversion (the ``_batch_key_ranges`` timezone rule).
    Doubles report null/NDV only (same int-first discipline as the
    file stats).

    ``mcv_columns`` (round 13) opts named INT/STRING columns into a
    MOST-COMMON-VALUES list — the Postgres-style skew statistic: the
    top ``mcv_k`` values by exact frequency (ties broken by value, so
    the list is deterministic and oracle-reproducible), stored as
    ``[value, count]`` pairs. Uniform-over-NDV estimation is wrong in
    BOTH directions on skewed columns (a hot value under-estimated
    ~ndv-fold, a rare one over-estimated); the MCV gives the hot
    values their exact counts and leaves the uniform rule to the
    remainder mass. Each MCV column costs one NDV-bounded rollup on
    top of the single stats scan — that bound is why it is opt-in."""
    from pyspark.sql import types as T

    df = table.read(spark)
    if df is None:
        raise ValueError(f"{table.table_dir} has no commits to analyze")
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = list(columns) if columns else list(fields)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(
            F.sum(
                F.when(F.col(c).isNull(), 1).otherwise(0)
            ).alias(f"nu{i}")
        )
        aggs.append(
            (
                F.countDistinct(c)
                if exact_ndv
                else F.approx_count_distinct(c, rsd=0.01)
            ).alias(f"nd{i}")
        )
        e = None
        if isinstance(fields[c], T.TimestampType):
            e = F.unix_micros(F.col(c))
        elif isinstance(fields[c], (T.IntegerType, T.LongType, T.ShortType)):
            e = F.col(c).cast("bigint")
        if e is not None:
            aggs.append(F.min(e).alias(f"mn{i}"))
            aggs.append(F.max(e).alias(f"mx{i}"))
    row = df.agg(*aggs).collect()[0]
    col_stats = {}
    for i, c in enumerate(cols):
        s = {
            "null_count": int(row[f"nu{i}"] or 0),
            "ndv": int(row[f"nd{i}"] or 0),
        }
        if f"mn{i}" in row.__fields__ and row[f"mn{i}"] is not None:
            s["min"] = int(row[f"mn{i}"])
            s["max"] = int(row[f"mx{i}"])
        col_stats[c] = s
    for c in mcv_columns or []:
        if c not in col_stats or not isinstance(
            fields.get(c),
            (T.IntegerType, T.LongType, T.ShortType, T.StringType),
        ):
            continue  # JSON-portable value types only
        top = (
            df.filter(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.count(F.lit(1)).alias("__f"))
            .orderBy(F.desc("__f"), F.col(c))
            .limit(int(mcv_k))
            .collect()
        )
        col_stats[c]["mcv"] = [
            [
                int(r[c])
                if not isinstance(r[c], str)
                else r[c],
                int(r["__f"]),
            ]
            for r in top
        ]
    result = {
        "version": len(table.snapshot()) - 1,
        "n_rows": int(row["__n"]),
        "exact_ndv": bool(exact_ndv),
        "columns": col_stats,
    }
    cfg_path = os.path.join(table.table_dir, "_table.json")
    persisted: dict = {}
    if os.path.exists(cfg_path):
        with contextlib.suppress(OSError, ValueError):
            with open(cfg_path) as fh:
                persisted = json.load(fh)
    persisted["analyze"] = result
    tmp = cfg_path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(persisted, fh)
    os.replace(tmp, cfg_path)
    return result


def analyze_incremental(
    table: ManifestTable, spark: SparkSession
) -> dict:
    """Refresh a stale ANALYZE profile from the CHANGE, not the table:
    the commits since the profile's version are read through
    :meth:`ManifestTable.diff` (exactly the files those commits added
    — the CDC property), so the additive statistics update exactly —
    ``n_rows += Δrows``, ``null_count += Δnulls``, min/max widen by
    the delta's min/max — at a cost proportional to the appended
    data, not the 100 TB behind it. NDV is NOT additive: the merged
    profile carries ``max(old, Δ)`` as a LOWER BOUND and marks
    ``ndv_stale: true`` per column until a full :func:`analyze_table`
    recomputes it (a planner treats a stale NDV as a hint).

    Falls back to a FULL re-analyze when any delta commit REMOVED
    files (copy-on-write mutations invalidate additive update — the
    removed rows' contribution cannot be subtracted from aggregates)
    or when no profile exists yet."""
    from pyspark.sql import types as T

    prof, fresh = analyzed_stats(table)
    commits = table.snapshot()
    latest = len(commits) - 1
    if prof is None:
        return analyze_table(table, spark)
    if fresh:
        return prof
    v_from = prof["version"]
    if any(
        c.get("removed") or c.get("tombstones")
        for c in commits[v_from + 1 :]
    ):
        return analyze_table(table, spark, exact_ndv=prof["exact_ndv"])
    delta = table.diff(spark, v_from, latest)
    if delta is None:
        prof = dict(prof, version=latest)
    else:
        fields = {f.name: f.dataType for f in delta.schema.fields}
        cols = [c for c in prof["columns"] if c in fields]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, c in enumerate(cols):
            aggs.append(
                F.sum(
                    F.when(F.col(c).isNull(), 1).otherwise(0)
                ).alias(f"nu{i}")
            )
            aggs.append(
                (
                    F.countDistinct(c)
                    if prof["exact_ndv"]
                    else F.approx_count_distinct(c, rsd=0.01)
                ).alias(f"nd{i}")
            )
            e = None
            if isinstance(fields[c], T.TimestampType):
                e = F.unix_micros(F.col(c))
            elif isinstance(
                fields[c], (T.IntegerType, T.LongType, T.ShortType)
            ):
                e = F.col(c).cast("bigint")
            if e is not None:
                aggs.append(F.min(e).alias(f"mn{i}"))
                aggs.append(F.max(e).alias(f"mx{i}"))
        row = delta.agg(*aggs).collect()[0]
        merged = {}
        for i, c in enumerate(cols):
            old = dict(prof["columns"][c])
            old["null_count"] += int(row[f"nu{i}"] or 0)
            old["ndv"] = max(old["ndv"], int(row[f"nd{i}"] or 0))
            old["ndv_stale"] = True
            if "min" in old and row.__fields__.count(f"mn{i}"):
                if row[f"mn{i}"] is not None:
                    old["min"] = min(old["min"], int(row[f"mn{i}"]))
                    old["max"] = max(old["max"], int(row[f"mx{i}"]))
            if old.get("mcv"):
                # MCV counts are additive for values already IN the
                # list (one bounded isin rollup over the delta); a
                # NEW value rising into the top-k is invisible until
                # a full re-analyze — flag the list as stale (lower
                # bounds), the same hint semantics as ndv_stale.
                mcv_vals = [v for v, _ in old["mcv"]]
                delta_freq = {
                    r[c]: r["__f"]
                    for r in delta.filter(F.col(c).isin(mcv_vals))
                    .groupBy(c)
                    .agg(F.count(F.lit(1)).alias("__f"))
                    .collect()
                }
                old["mcv"] = [
                    [v, cnt + int(delta_freq.get(v, 0))]
                    for v, cnt in old["mcv"]
                ]
                old["mcv_stale"] = True
            merged[c] = old
        prof = dict(
            prof,
            version=latest,
            n_rows=prof["n_rows"] + int(row["__n"]),
            columns=merged,
            incremental=True,
        )
    cfg_path = os.path.join(table.table_dir, "_table.json")
    persisted: dict = {}
    if os.path.exists(cfg_path):
        with contextlib.suppress(OSError, ValueError):
            with open(cfg_path) as fh:
                persisted = json.load(fh)
    persisted["analyze"] = prof
    tmp = cfg_path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(persisted, fh)
    os.replace(tmp, cfg_path)
    return prof


def estimate_read_rows(
    table: ManifestTable,
    where: dict | None = None,
    where_in: dict | None = None,
) -> dict:
    """Cardinality estimation from the persisted ANALYZE profile —
    the planner arithmetic the statistics exist for: a range
    predicate's selectivity is its overlap share of the column's
    [min, max] under the uniformity assumption
    (``rows ≈ n_nonnull · overlap / width``, exact integer
    cross-multiplication, floored), an IN predicate's is
    ``n_nonnull · k / ndv`` — except that values found in the
    column's MCV list (``analyze_table(mcv_columns=...)``) use their
    EXACT frequencies and only the misses fall back to uniform over
    the remainder mass (Postgres's skew rule); conjuncts multiply
    (independence
    assumption — both assumptions are the textbook CBO defaults and
    both are stated in the output so a consumer knows what it got).
    Metadata-only: no data is read. Raises if the table was never
    analyzed; a stale profile is used as-is (the freshness flag is
    the caller's signal to re-analyze)."""
    prof, fresh = analyzed_stats(table)
    if prof is None:
        raise ValueError(
            f"{table.table_dir} has no ANALYZE profile; run "
            "analyze_table() first"
        )
    n = prof["n_rows"]
    est = n
    for col, (lo, hi) in (where or {}).items():
        s = prof["columns"].get(col)
        if s is None or "min" not in s:
            continue  # no stats: contributes selectivity 1
        nn = n - s["null_count"]
        lo_i = table._stat_int(lo) if lo is not None else s["min"]
        hi_i = table._stat_int(hi) if hi is not None else s["max"]
        lo_c = max(lo_i, s["min"])
        hi_c = min(hi_i, s["max"])
        if hi_c < lo_c or n == 0:
            est = 0
            break
        width = s["max"] - s["min"] + 1
        sel_rows = (nn * (hi_c - lo_c + 1)) // width
        est = (est * sel_rows) // n if n else 0
    for col, vals in (where_in or {}).items():
        s = prof["columns"].get(col)
        # dedupe: IN semantics match each distinct value once, so a
        # caller passing duplicates must not inflate the estimate
        vals = {v for v in vals if v is not None}
        if not vals:
            est = 0
            break
        if s is None or not s.get("ndv"):
            continue
        nn = n - s["null_count"]
        mcv = s.get("mcv")
        if mcv:
            # Skew-aware split (round 13): MCV members contribute
            # their EXACT counts; the rest fall back to uniform over
            # the remainder mass (rows and NDV both net of the MCV) —
            # the Postgres selectivity rule, all-integer.
            freq = {v: c for v, c in mcv}
            hits = sum(freq.get(v, 0) for v in vals)
            n_miss = sum(1 for v in vals if v not in freq)
            rest_rows = max(0, nn - sum(freq.values()))
            rest_ndv = max(1, s["ndv"] - len(freq))
            sel_rows = min(
                hits + (rest_rows * n_miss) // rest_ndv, nn
            )
        else:
            sel_rows = min((nn * len(vals)) // s["ndv"], nn)
        est = (est * sel_rows) // n if n else 0
    return {
        "est_rows": int(est),
        "n_rows": n,
        "profile_fresh": fresh,
        "assumptions": "uniformity+independence",
    }


def choose_build_side(
    left: ManifestTable,
    right: ManifestTable,
    left_where: dict | None = None,
    right_where: dict | None = None,
    broadcast_threshold_rows: int = 500_000,
    left_where_in: dict | None = None,
    right_where_in: dict | None = None,
    on: list[str] | None = None,
    n_shuffle_partitions: int = 32,
    skew_factor: int = 2,
) -> dict:
    """The planning decision ANALYZE exists for: which side of a
    manifest-to-manifest join to BUILD (broadcast), decided from the
    persisted profiles' post-filter cardinality estimates — never
    from reading data. Decision rule (documented in README):

    1. estimate each side via :func:`estimate_read_rows` (range
       selectivity = overlap/width, uniformity + independence,
       MCV-exact frequencies for IN-list members — round 13's skew
       statistics feed straight into this decision: a side filtered
       to a HOT key estimates its true mass, where uniform-over-NDV
       would call it broadcastable and OOM an executor at 100 TB);
       a side with no ANALYZE profile estimates None;
    2. broadcast the SMALLER estimated side iff its estimate is at or
       under ``broadcast_threshold_rows`` (the rows-fit-in-one-
       executor bound — at 100 TB a mis-broadcast fact is an OOM, so
       an unknown/over-threshold side is never built);
    3. both unknown or both over threshold → ``"none"``: leave the
       strategy to AQE's runtime statistics.

    Join-key SKEW advisory (round 14): when ``on`` names the join
    keys and the decision is a SHUFFLE join (``build == "none"``),
    each side's MCV list is screened for keys whose exact count
    overfills an average shuffle partition by ``skew_factor``×
    (``count · n_shuffle_partitions > skew_factor · n_rows``). AQE's
    OptimizeSkewedJoin absorbs this for the sort-merge JOIN itself
    (it splits the oversized partition by mapper ranges), but NOT
    for what rides the same key downstream — keyed aggregations and
    stateful ops reduce one key on one task however big — nor for
    shuffled-hash plans or AQE-off deployments; the planner
    therefore recommends the static fix: ``skew`` carries the hot
    keys, the side to salt, and an ``n_salts`` sized to spread the
    hottest key back to ~average partition mass (the
    ``operators.skew.salted_join`` kit — measured ~zero overhead in
    bench leg ``skew_join_salted``). A broadcast decision gets
    ``skew: None`` — no shuffle on the key, nothing to overfill.

    Returns ``{"build": "left"|"right"|"none", "est_left",
    "est_right", "threshold_rows", "reason", "skew"}`` so callers
    (and the plan-contract test) can audit why."""

    def _est(t: ManifestTable, w: dict | None, wi: dict | None):
        try:
            return estimate_read_rows(t, where=w, where_in=wi)[
                "est_rows"
            ]
        except ValueError:
            return None

    le = _est(left, left_where, left_where_in)
    re_ = _est(right, right_where, right_where_in)
    build, reason = "none", "both sides unknown or over threshold"
    cands = [
        (e, side)
        for e, side in ((le, "left"), (re_, "right"))
        if e is not None and e <= broadcast_threshold_rows
    ]
    if cands:
        e, build = min(cands)
        reason = (
            f"estimated {e} rows <= threshold and <= other side"
        )
    skew = None
    if on and build == "none":
        for side, tbl in (("left", left), ("right", right)):
            prof, _fresh = analyzed_stats(tbl)
            n = (prof or {}).get("n_rows") or 0
            if not n:
                continue
            hot = [
                {"column": col, "value": v, "count": int(cnt)}
                for col in on
                for v, cnt in (
                    (prof["columns"].get(col) or {}).get("mcv") or []
                )
                if cnt * n_shuffle_partitions > skew_factor * n
            ]
            if hot and (skew is None or n > skew["side_rows"]):
                worst = max(h["count"] for h in hot)
                skew = {
                    "side": side,
                    "side_rows": n,
                    "keys": hot,
                    "n_salts": min(
                        64,
                        max(
                            2,
                            -(-worst * n_shuffle_partitions // n),
                        ),
                    ),
                    "n_shuffle_partitions": n_shuffle_partitions,
                    "skew_factor": skew_factor,
                }
    return {
        "build": build,
        "est_left": le,
        "est_right": re_,
        "threshold_rows": broadcast_threshold_rows,
        "reason": reason,
        "skew": skew,
    }


def cbo_join(
    spark: SparkSession,
    left: ManifestTable,
    right: ManifestTable,
    on: list[str],
    left_where: dict | None = None,
    right_where: dict | None = None,
    how: str = "inner",
    broadcast_threshold_rows: int = 500_000,
    salt_skew: bool = True,
    n_shuffle_partitions: int = 32,
) -> DataFrame:
    """Manifest-to-manifest join planned from ANALYZE statistics:
    each side reads through :meth:`ManifestTable.read`'s zone-map
    skipping for its filter, then :func:`choose_build_side` decides
    the broadcast hint from the persisted profiles (see its decision
    rule). The estimate CONSUMES the statistics layer end to end:
    stale or missing profiles degrade to AQE, never to a forced
    fact-side broadcast.

    When the decision is a shuffle join AND the profiles flag a hot
    join key (round 14 — see ``choose_build_side``'s skew advisory),
    ``salt_skew=True`` routes a single-key inner/left join through
    ``operators.skew.salted_join`` with the recommended ``n_salts``:
    result-identical (order and column order aside), but the hot
    key's rows spread over ``n_salts`` sub-buckets BEFORE the
    exchange, which also de-skews everything KEYED downstream of the
    join — the part AQE's skew-join rewrite cannot reach (see
    ``choose_build_side``). Measured ~zero overhead at bench scale.
    Multi-key joins and join types where side-swapping or right-side
    replication would change semantics keep the plain join (the
    advisory still rides the decision dict for the caller)."""
    decision = choose_build_side(
        left,
        right,
        left_where,
        right_where,
        broadcast_threshold_rows,
        on=on,
        n_shuffle_partitions=n_shuffle_partitions,
    )
    ldf = left.read(spark, where=left_where)
    rdf = right.read(spark, where=right_where)
    if ldf is None or rdf is None:
        raise ValueError("cbo_join requires both tables to have commits")
    sk = decision.get("skew")
    if (
        salt_skew
        and decision["build"] == "none"
        and sk
        and len(on) == 1
    ):
        from smart_meter_data_pipeline_spark.operators.skew import (
            salted_join,
        )

        if sk["side"] == "left" and how in ("inner", "left"):
            return salted_join(
                ldf, rdf, on[0], n_salts=sk["n_salts"], how=how
            )
        if sk["side"] == "right" and how == "inner":
            # inner is symmetric: salt the skewed side as the left
            return salted_join(
                rdf, ldf, on[0], n_salts=sk["n_salts"], how="inner"
            )
    if decision["build"] == "left":
        ldf = F.broadcast(ldf)
    elif decision["build"] == "right":
        rdf = F.broadcast(rdf)
    return ldf.join(rdf, on, how)


def analyzed_stats(table: ManifestTable) -> tuple[dict | None, bool]:
    """The persisted ANALYZE profile and whether it is FRESH (computed
    at the current snapshot version). A planner treats a stale profile
    as a hint, a fresh one as authoritative."""
    cfg_path = os.path.join(table.table_dir, "_table.json")
    if not os.path.exists(cfg_path):
        return None, False
    try:
        with open(cfg_path) as fh:
            persisted = json.load(fh)
    except (OSError, ValueError):
        return None, False
    prof = persisted.get("analyze")
    if prof is None:
        return None, False
    fresh = prof.get("version") == len(table.snapshot()) - 1
    return prof, fresh


def shallow_clone(source: ManifestTable, target_dir: str) -> ManifestTable:
    """Zero-copy SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE``
    parity): a new table at ``target_dir`` whose single base commit
    references the SOURCE's live data files — no bytes copied, clone
    cost is one metadata commit regardless of table size.

    Mechanics: the clone's ``added`` entries are data-dir-RELATIVE
    traversal paths (``../..``-style) that resolve to the source's
    files, so every existing reader/mutator works unchanged: reads
    follow the paths; copy-on-write mutations record removals with the
    SAME relative strings (``_rel`` computes them against the clone's
    data dir) and write survivors into the clone's own data dir;
    ``optimize_table`` naturally MATERIALIZES the clone (rewrites into
    local files); the clone's vacuum can never delete source bytes
    (it only sweeps the clone's own data dir). Divergence after the
    clone point is therefore fully isolated — the Delta semantics.

    Carried metadata: evolved schema (so evolution history collapses
    to one recorded schema), per-file skipping stats (live files
    only, keyed by the clone-relative path), and the union of commit
    dates (over-approximate like all add-side date pruning).

    HAZARD (same as Delta): the source's VACUUM does not know about
    clones — a CoW mutation or OPTIMIZE on the SOURCE followed by its
    vacuum can delete files the clone still references. Clones are
    for short-lived branches (experiments, dev snapshots, blue/green
    validation), not long-term archival; materialize with
    ``optimize_table`` to cut the dependency."""
    numbered = source.numbered_snapshot()
    if not numbered:
        raise ValueError(f"cannot clone an empty table: {source.table_dir}")
    if source._pending_tombstones(numbered):
        raise PendingTombstonesError(
            f"{source.table_dir} has pending merge-on-read tombstones; "
            "run apply_tombstones() before cloning (the clone's base "
            "commit references raw files and would resurrect "
            "logically-deleted rows)"
        )
    commits = [c for _, c in numbered]
    live_abs = source._files(commits)

    clone = ManifestTable(
        target_dir,
        stats_columns=source.stats_columns,
        constraints=source.constraints,
        bloom_columns=source.bloom_columns,
        dict_columns=source.dict_columns,
    )
    if clone.snapshot():
        raise ValueError(f"clone target is not empty: {target_dir}")

    stats_by_abs: dict[str, dict] = {}
    blooms_by_abs: dict[str, dict] = {}
    for c in commits:
        for f, s in (c.get("stats") or {}).items():
            stats_by_abs[os.path.join(source.data_dir, f)] = s
        for f, b in (c.get("blooms") or {}).items():
            blooms_by_abs[os.path.join(source.data_dir, f)] = b
    rel_of = {p: os.path.relpath(p, clone.data_dir) for p in live_abs}
    schema = source._evolved_schema(commits)
    payload = {
        "version": 0,
        "added": [rel_of[p] for p in live_abs],
        "dates": sorted({d for c in commits for d in c["dates"]}),
        "stats": {
            rel_of[p]: stats_by_abs[p]
            for p in live_abs
            if p in stats_by_abs
        },
        "blooms": {
            rel_of[p]: blooms_by_abs[p]
            for p in live_abs
            if p in blooms_by_abs
        },
        "committed_at": time.time(),
        "cloned_from": source.table_dir,
    }
    if schema is not None:
        payload["schema"] = schema.json()
    if not _put_if_absent(
        clone._commit_path(0), json.dumps(payload).encode()
    ):
        raise ValueError(f"clone target is not empty: {target_dir}")
    return clone


class BranchDivergedError(CommitConflictError):
    """Main advanced past the branch base — the fast-forward publish
    would silently drop those commits, so it refuses instead."""


class ManifestBranch(ManifestTable):
    """A writable fork of a :class:`ManifestTable` — Iceberg branch
    refs, i.e. the table half of Write-Audit-Publish.

    The branch's visible log is the MAIN log frozen at the base commit
    number followed by the branch's own numbered commits (kept in
    ``_commits_branches/<name>/``). Every inherited read and write —
    ``read``, time travel, ``idempotent_append``, ``upsert``/
    ``delete_keys`` copy-on-write, skipping/Bloom pruning — works
    unchanged because the whole machinery flows through
    ``numbered_snapshot`` / ``_commit_path`` / ``_fence``, all of
    which this subclass redirects to the composite view. Data files
    live in the PARENT's data dir (immutable, uuid-staged), so
    branching any size table costs one metadata ref and concurrent
    branch/main writers can never collide on bytes, only on their own
    log's put-if-absent — the same one-winner argument as the main
    protocol, applied per log.

    MAINTENANCE (compaction / vacuum) stays a main-table operation:
    ``compact_log`` and ``vacuum_unreferenced`` refuse a branch
    handle, compaction clamps its cut before any branch base (bases
    are GC roots like tags), and vacuum counts branch-log references
    as live. Publish is :meth:`fast_forward` — a SQUASH of the
    branch's net file effect into one optimistic main commit."""

    def __init__(self, parent: ManifestTable, name: str, base: int) -> None:
        super().__init__(parent.table_dir)
        self._parent = parent
        self.branch_name = name
        self.base_number = base
        # Redirect the publish namespace to the branch log; data dir,
        # refs dir and persisted table config stay shared.
        self.commits_dir = self._branch_log_dir(name)
        os.makedirs(self.commits_dir, exist_ok=True)

    def numbered_snapshot(self) -> list[tuple[int, dict]]:
        main = [
            (n, c)
            for n, c in self._read_log(self._parent.commits_dir)
            if n <= self.base_number
        ]
        return main + self._read_log(self.commits_dir)

    def next_commit_number(self) -> int:
        return self._fence(self.numbered_snapshot())

    def create_tag(self, name: str, version: int | None = None) -> dict:
        raise ValueError(
            "tags live on the main table (the refs namespace is "
            "shared); tag the published commit after fast_forward()"
        )

    def create_branch(self, name: str, version: int | None = None) -> dict:
        raise ValueError("cannot branch a branch — fork main instead")

    def fast_forward(
        self, retain_branch: bool = False, max_retries: int = 5
    ) -> dict:
        """Publish the branch onto main as ONE squash commit — the
        "publish" of Write-Audit-Publish. Requires main's head to
        still be the branch base (otherwise :class:`BranchDivergedError`
        — this is a fast-forward, not a three-way merge); the commit
        lands through the same put-if-absent fence as every other
        writer, so a concurrent main append either loses to the
        publish or makes it diverge — never a silent overwrite.

        The squash records the branch's NET effect: files the branch
        added (minus ones it later removed), removals of BASE files
        the branch rewrote (copy-on-write upserts/deletes), carried
        per-file stats/Bloom bitmaps, the union of branch dates, the
        branch-evolved schema, and dropped-type tombstones. Per-commit
        branch granularity is deliberately not replayed — a squash has
        no partial-publish state, which is what makes the publish
        atomic on an object store. Pending merge-on-read tombstones
        anywhere in the branch view must be reorganized first (same
        rule as clone)."""
        numbered_view = self.numbered_snapshot()
        if self._pending_tombstones(numbered_view):
            raise PendingTombstonesError(
                f"branch {self.branch_name!r} has pending merge-on-read "
                "tombstones; run apply_tombstones() on the branch before "
                "fast_forward (the squash commit must not resurrect "
                "logically-deleted rows)"
            )
        bc = [c for _, c in self._read_log(self.commits_dir)]
        if not bc:
            return {"published": 0}
        added_net = self._net_relfiles(bc)
        added_in_branch = {f for c in bc for f in c["added"]}
        removed_net: dict[str, None] = {}
        for c in bc:
            for f in c.get("removed", []):
                if f not in added_in_branch:
                    removed_net[f] = None
        stats = {
            rel: s
            for c in bc
            for rel, s in (c.get("stats") or {}).items()
            if rel in set(added_net)
        }
        blooms = {
            rel: b
            for c in bc
            for rel, b in (c.get("blooms") or {}).items()
            if rel in set(added_net)
        }
        schema = self._evolved_schema([c for _, c in numbered_view])
        dropped = {}
        for c in bc:
            dropped.update(c.get("dropped_types") or {})
        payload = {
            "added": added_net,
            "removed": sorted(removed_net),
            "count": sum(c.get("count", 0) for c in bc),
            "dates": sorted({d for c in bc for d in c.get("dates", [])}),
            "committed_at": time.time(),
            "fast_forward_of": self.branch_name,
            "squashed_from": len(bc),
        }
        if schema is not None:
            payload["schema"] = schema.json()
        if dropped:
            payload["dropped_types"] = dropped
        if stats:
            payload["stats"] = stats
        if blooms:
            payload["blooms"] = blooms
        for _ in range(max_retries):
            main_numbered = self._parent.numbered_snapshot()
            fence = self._fence(main_numbered)
            if fence != self.base_number + 1:
                raise BranchDivergedError(
                    f"cannot fast-forward {self.branch_name!r}: main is "
                    f"at fence {fence}, branch base is "
                    f"{self.base_number} — main advanced since the "
                    "branch; rebase by re-branching and re-applying"
                )
            payload["version"] = fence
            if self._pre_publish_hook is not None:
                self._pre_publish_hook()
            if _put_if_absent(
                self._parent._commit_path(fence),
                json.dumps(payload).encode(),
            ):
                if not retain_branch:
                    self._parent.delete_branch(self.branch_name)
                return {"published": 1, "squashed_from": len(bc)}
            # lost the fence race — re-listing either shows main still
            # at base (the winner was a stray tmp retry artifact;
            # attempt again) or advanced (diverged, next loop raises)
        raise CommitConflictError(
            f"gave up after {max_retries} fast-forward attempts on "
            f"branch {self.branch_name!r}"
        )
