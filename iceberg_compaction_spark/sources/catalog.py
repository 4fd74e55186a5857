"""Catalog-backed tables with compare-and-swap commits.

The reference loads its tables from an Iceberg catalog and commits
through it (``core/src/compaction/mod.rs:270,450``; the integration
suite runs a REST catalog + MinIO,
``integration-tests/src/integration_tests.rs:38-579``).  This module
supplies that seam locally: a Hadoop-catalog-style file layout,

    <warehouse>/<table>/metadata/v<N>.metadata.json
    <warehouse>/<table>/metadata/version-hint.text

where commit N+1 atomically creates ``v<N+1>.metadata.json`` with
``O_CREAT | O_EXCL`` — the filesystem primitive Iceberg's
HadoopTableOperations uses for its atomic version swap.  Exactly one
writer can create a given version, so the version-file create IS the
compare-and-swap: no lock, no window.  (A REST/Glue/pyiceberg catalog
implements the same ``load_table`` / ``commit_table`` contract
server-side; swapping one in touches nothing above this seam.)

Versions map 1:1 to snapshot ids (both bump by one per commit), so
"create v<expected+1> exclusively" simultaneously checks that the head
has not moved and publishes the new snapshot.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass

from iceberg_compaction_spark.sources.manifest import Manifest


# process-wide memo of each version file's (parent, committed-at).
# Version files are immutable WHILE THEY EXIST, but removal + re-create
# (a lost refs-CAS retry) can change a path's content — so entries carry
# the file mtime and every hit re-validates with one stat
# (_stamp_cache_get); in-process removal sites also invalidate eagerly.
_VERSION_STAMP_CACHE: dict = {}
_VERSION_STAMP_CAP = 65536
_STAMP_MISSING = object()


def _stamp_cache_invalidate(path: str) -> None:
    """Drop one path's memoized stamp.  Version files are immutable
    WHILE THEY EXIST, but a ref-targeted commit that loses its refs-CAS
    REMOVES its allocated version file — a retry can then re-create the
    same path with a different parent/timestamp, so every removal site
    must invalidate.  Cross-PROCESS writers cannot call this, which is
    why cache hits are additionally mtime-validated (see
    _stamp_cache_get) — this in-process hook just saves the stat."""
    _VERSION_STAMP_CACHE.pop(path, None)


def _stamp_token(io, path: str):
    """(mtime, size) identity token for a version file, or None when
    the backend cannot provide one (then caching is disabled — fresh
    parse every time).  Size joins mtime because mtime granularity can
    be coarse (S3 LastModified is one second; an immediate lost-CAS
    re-create could land in the same quantum) — a content change that
    also preserves byte length within one quantum remains a residual
    window, accepted and documented."""
    try:
        return (io.mtime(path), io.size(path))
    except (OSError, AttributeError, NotImplementedError):
        return None


def _stamp_cache_get(io, path: str):
    """Memoized stamp for ``path`` IF the file is provably the same one
    that was cached: entries carry the (mtime, size) token CAPTURED
    BEFORE the cached bytes were read, and a hit re-validates it with
    one stat (a re-created path — another process's lost-CAS retry —
    gets a different token and misses)."""
    hit = _VERSION_STAMP_CACHE.get(path)
    if hit is None:
        return None
    stamp, token = hit
    if token is not None and _stamp_token(io, path) == token:
        return stamp
    _VERSION_STAMP_CACHE.pop(path, None)
    return None


def _stamp_cache_put(path: str, stamp, token) -> None:
    """Store a stamp under the identity token captured BEFORE the read:
    if the file was swapped between the stat and the read, the stored
    token is already stale and the next get misses — stat-after-read
    would instead bind the OLD bytes to the NEW token and serve them
    forever (review finding)."""
    if token is None:
        return  # no validity signal: do not cache
    if len(_VERSION_STAMP_CACHE) >= _VERSION_STAMP_CAP:
        _VERSION_STAMP_CACHE.clear()  # tiny entries; crude is fine
    _VERSION_STAMP_CACHE[path] = (stamp, token)


class TableNotFound(KeyError):
    pass


class TableAlreadyExists(ValueError):
    pass


class TableRefs:
    """Tags / branches / fast-forward / WAP publish over CASed
    ``refs.v<K>.json`` side files in the table's metadata directory —
    shared by every versioned-metadata catalog backend (FileCatalog and
    the real-metadata IcebergHadoopCatalog).

    Host requirements: ``_io``, ``_refs_dir(name)``, ``table_history``,
    ``load_table_at``, ``_current_version``, ``snapshot_lineage``,
    ``snapshot_parents``; ``snapshot_timestamps`` for
    :meth:`load_table_as_of`.

    Refs live in VERSIONED files created with O_CREAT|O_EXCL, so every
    ref mutation is an atomic read-modify-write: concurrent movers (two
    branch commits, a tag create racing a fast-forward) can never lose
    each other's update — the loser of the exclusive create re-reads
    and re-applies.  This is the same CAS primitive the version files
    use, applied to the ref map (real Iceberg keeps refs INSIDE
    TableMetadata so the metadata swap covers them; a separate CASed
    file gives the same guarantee without bumping the table version on
    ref-only changes).
    """

    # ---- refs: tags and branches (Iceberg table refs) -------------------
    #
    # Refs live in VERSIONED files (``refs.v<K>.json``) created with
    # O_CREAT|O_EXCL, so every ref mutation is an atomic
    # read-modify-write: concurrent movers (two branch commits, a tag
    # create racing a fast-forward) can never lose each other's update —
    # the loser of the exclusive create re-reads and re-applies.  This
    # is the same CAS primitive the version files use, applied to the
    # ref map (real Iceberg keeps refs INSIDE TableMetadata so the
    # metadata swap covers them; a separate CASed file gives the same
    # guarantee without bumping the table version on ref-only changes).

    def _refs_path(self, name: str) -> str:
        # legacy single-file location (pre-round-10 warehouses): read
        # as version 0 when no versioned refs file exists yet
        return self._io.join(self._refs_dir(name), "refs.json")

    def _refs_vpath(self, name: str, k: int) -> str:
        return self._io.join(self._refs_dir(name), f"refs.v{k}.json")

    def _refs_versions(self, name: str) -> list[int]:
        """All LISTED refs file versions (readable or not)."""
        io = self._io
        mdir = self._refs_dir(name)
        if not io.is_dir(mdir):
            raise TableNotFound(name)
        return [
            int(n[6:].split(".", 1)[0])
            for n in io.listdir(mdir)
            if n.startswith("refs.v") and n.endswith(".json")
        ]

    def _refs_state(self, name: str) -> tuple[int, dict]:
        """(refs version K, refs map) — highest ``refs.v<K>.json``,
        falling back to the legacy ``refs.json`` (as K=0), else empty."""
        return self._refs_state_from(name, self._refs_versions(name))

    def _refs_state_from(
        self, name: str, ks: list[int]
    ) -> tuple[int, dict]:
        """Refs state restricted to an ALREADY-TAKEN listing ``ks`` —
        the CAS path must read state and derive its target version
        from ONE listing, otherwise a commit landing between the two
        snapshots gets silently overwritten (two-winner race)."""
        io = self._io
        for k in sorted(ks, reverse=True):
            # Tolerate a torn/empty NEWEST file as transient (retry
            # once, then fall back to the previous version): the CAS
            # primitive now links payloads atomically, but a warehouse
            # written by an older engine — or a non-POSIX backend — may
            # still hold a crashed writer's empty orphan, and a reader
            # must never be bricked by it.  Older versions are immutable
            # once written, so falling back is always consistent.
            for _attempt in range(2):
                try:
                    return k, json.loads(
                        io.read_bytes(self._refs_vpath(name, k))
                    )
                except (json.JSONDecodeError, FileNotFoundError):
                    time.sleep(0.01)
        try:
            return 0, json.loads(io.read_bytes(self._refs_path(name)))
        except FileNotFoundError:
            return 0, {}

    def list_refs(self, name: str) -> dict[str, dict]:
        """All named refs: ``{ref_name: {"type": "tag"|"branch",
        "snapshot_id": int}}``."""
        return self._refs_state(name)[1]

    def _refs_cas(self, name: str, mutate) -> dict[str, dict]:
        """Atomically apply ``mutate(refs) -> refs`` to the ref map.
        ``mutate`` sees the freshest map on every attempt and may raise
        to abort (its exception propagates un-retried — validation
        failures are not contention)."""
        from iceberg_compaction_spark.commit import CommitConflict

        for attempt in range(64):
            # ONE listing drives both the state read and the target
            # version.  Target = max(LISTED)+1, not max(readable)+1:
            # _refs_state's torn-file fallback may read k < max(listed)
            # when the newest file is a permanently unreadable
            # old-engine orphan, and a writer must skip past that
            # occupied path instead of burning all 64 attempts on a
            # guaranteed-lost CAS (ADVICE r13).  The orphan's content
            # was never durably committed, so building on the readable
            # state is consistent.  Listing AFTER reading would be a
            # two-winner race: a commit landing in between would be
            # skipped over AND its state ignored.
            #
            # STAGED skip: the first attempts target k+1 (contend on
            # the occupied slot, old behavior) so a newest file that is
            # listed but only TRANSIENTLY unreadable — read-after-write
            # lag on a non-POSIX backend — gets time to become
            # readable; only after eight losses does the writer treat
            # it as a permanent orphan and jump past it.  Skipping
            # immediately would silently erase a committed-but-lagging
            # ref mutation (lost update).
            #
            # The grace those eight attempts buy must comfortably
            # exceed realistic visibility lag, so when the newest
            # LISTED version is the one that is unreadable (the only
            # case skipping could lose an update) each staged attempt
            # sleeps with exponential backoff — ~2.5 s total before
            # escalation, vs the ~160 ms the bare read retries gave
            # (ADVICE r14).  Ordinary CAS contention (newest version
            # readable, create_exclusive lost the race) never sleeps:
            # there the fresh re-read IS the recovery.
            listed = self._refs_versions(name)
            k, refs = self._refs_state_from(name, listed)
            if attempt < 8:
                k_next = k + 1
                if listed and k < max(listed):
                    time.sleep(min(0.02 * (2 ** attempt), 0.64))
            else:
                k_next = max([k, *listed]) + 1
            new_refs = mutate(dict(refs))
            payload = json.dumps(new_refs, indent=1).encode()
            if self._io.create_exclusive(
                self._refs_vpath(name, k_next), payload
            ):
                return new_refs
        raise CommitConflict(f"{name}: refs CAS contention (64 attempts)")

    # Iceberg's per-ref retention fields (spec: snapshot references)
    RETENTION_FIELDS = (
        "max_snapshot_age_ms",   # branch: age out old lineage snapshots
        "min_snapshots_to_keep", # branch: floor under the age rule
        "max_ref_age_ms",        # branch/tag: the REF itself ages out
    )

    def _set_ref(
        self,
        name: str,
        ref: str,
        ref_type: str,
        snapshot_id: int | None,
        pin_main: bool = False,
        retention: dict | None = None,
    ) -> dict:
        history = self.table_history(name)
        if retention:
            bad = set(retention) - set(self.RETENTION_FIELDS)
            if bad:
                raise ValueError(
                    f"unknown retention fields {sorted(bad)}; expected "
                    f"a subset of {list(self.RETENTION_FIELDS)}"
                )

        def mutate(refs: dict) -> dict:
            main = refs.get("main")
            sid = snapshot_id
            if sid is None:
                # "current head": the pinned main ref when present,
                # else the highest committed version
                sid = main["snapshot_id"] if main else max(history)
            if sid not in history:
                raise TableNotFound(f"{name}@{sid}")
            existing = refs.get(ref)
            if existing and existing["type"] == "tag":
                raise ValueError(
                    f"ref {ref!r} is a tag (immutable); drop it to re-point"
                )
            if existing and existing["type"] != ref_type:
                raise ValueError(
                    f"ref {ref!r} is a {existing['type']}, not a {ref_type}"
                )
            # a MOVE preserves the ref's declared retention policy
            # (fast-forward must not silently reset it)
            carried = {
                k: v
                for k, v in (existing or {}).items()
                if k in self.RETENTION_FIELDS
            }
            if retention:
                carried.update(
                    {k: int(v) for k, v in retention.items() if v is not None}
                )
            refs[ref] = {"type": ref_type, "snapshot_id": sid, **carried}
            if pin_main and ref != "main" and "main" not in refs:
                # creating the FIRST branch pins main at the current
                # head IN THE SAME atomic refs write — from here on,
                # every branch commit finds main already pinned, so no
                # commit can ever mis-pin it from a storage head that
                # already contains another writer's branch allocation
                # (the race a pre-pin commit-side fallback cannot
                # close: no branch exists before this, so the storage
                # head here IS main)
                refs["main"] = {
                    "type": "branch",
                    "snapshot_id": max(history),
                }
            return refs

        out = self._refs_cas(name, mutate)[ref]
        if ref == "main":
            # publishing main (fast_forward / explicit re-pin) moves the
            # advisory hint so hint-following external readers resolve
            # the newly published state (best-effort; readers rescan)
            hint = getattr(self, "_write_version_hint", None)
            if hint is not None:
                hint(name, out["snapshot_id"])
        return out

    def create_tag(
        self,
        name: str,
        tag: str,
        snapshot_id: int | None = None,
        retention: dict | None = None,
    ) -> dict:
        """Pin a snapshot under an immutable name (audit marks, release
        pins).  A tagged snapshot survives expire_snapshots.
        ``retention={"max_ref_age_ms": N}`` ages the tag itself out of
        existence during expiration (Iceberg's per-ref retention)."""
        if tag in self.list_refs(name):
            raise ValueError(f"ref {tag!r} already exists")
        return self._set_ref(name, tag, "tag", snapshot_id, retention=retention)

    def create_branch(
        self,
        name: str,
        branch: str,
        snapshot_id: int | None = None,
        retention: dict | None = None,
    ) -> dict:
        """Create a movable named pointer (defaults to the current
        head).  Advance it with :meth:`fast_forward`.  Creating the
        first branch also pins ``main`` at the current head (same
        atomic refs write) — the WAP prerequisite that lets branch
        commits leave main provably untouched.

        ``retention`` declares Iceberg's per-ref retention policy
        (spec'd ref fields, enforced by :meth:`expire_snapshots`):
        ``max_ref_age_ms`` drops the branch itself once its head is
        older than this (stale audit branches stop pinning lineage
        forever); ``max_snapshot_age_ms`` / ``min_snapshots_to_keep``
        trim the branch's retained LINEAGE (without them, the full
        lineage is pinned — the conservative default that keeps
        fast-forward ancestry verifiable)."""
        if branch in self.list_refs(name):
            raise ValueError(f"ref {branch!r} already exists")
        return self._set_ref(
            name, branch, "branch", snapshot_id, pin_main=True,
            retention=retention,
        )

    def fast_forward(self, name: str, branch: str, snapshot_id: int) -> dict:
        """Move a branch forward to a newer snapshot — the publish step
        of write-audit-publish: stage commits, audit the branch, then
        fast-forward the consumer branch to the audited snapshot.
        ``fast_forward(name, "main", sid)`` publishes to readers even
        when main was never explicitly created: it pins the implicit
        main ref at the target."""
        refs = self.list_refs(name)
        if branch not in refs and branch != "main":
            raise KeyError(f"no such branch: {branch!r}")
        cur = (
            refs[branch]["snapshot_id"]
            if branch in refs
            else self._current_version(name)
        )
        if snapshot_id < cur:
            raise ValueError(
                f"fast-forward must move forward: {branch!r} at {cur}, "
                f"target {snapshot_id}"
            )
        if snapshot_id != cur and cur != 0:
            # ancestry, like Iceberg's fast_forward: the target must
            # DESCEND from the branch's current snapshot, or the move
            # would silently discard the branch's own commits.  Walked
            # via parent stamps DOWN TO cur only (main's deeper ancestry
            # may legitimately be expired); pre-stamp history degrades
            # to linear (where numeric order IS ancestry).
            if cur not in self.snapshot_lineage(name, snapshot_id, cur - 1):
                raise ValueError(
                    f"not a fast-forward: {snapshot_id} does not descend "
                    f"from {branch!r}'s current snapshot {cur}"
                )
        return self._set_ref(name, branch, "branch", snapshot_id)

    def drop_ref(self, name: str, ref: str) -> None:
        """Remove a tag or branch.  Dropping ``main`` is refused while
        any other branch exists: unpinning the table makes
        ``load_table`` fall back to the highest STORAGE version — which
        on a WAP table is whatever branch allocation landed last —
        instantly publishing every unpublished audit snapshot to all
        readers.  Publishing is ``fast_forward(name, "main", sid)``;
        cleanup is dropping the BRANCH.  With no other branches left,
        dropping main is allowed only when it already points at the
        storage head (the drop is then provably a no-op for readers)."""

        def mutate(refs: dict) -> dict:
            if ref not in refs:
                raise KeyError(f"no such ref: {ref!r}")
            if ref == "main":
                others = [
                    r
                    for r, info in refs.items()
                    if r != "main" and info.get("type") == "branch"
                ]
                if others:
                    raise ValueError(
                        f"refusing to drop 'main' while branches exist "
                        f"({sorted(others)}): that would publish their "
                        f"unpublished snapshots to every reader — "
                        f"fast_forward(name, 'main', sid) to publish, "
                        f"drop_ref the branch to discard"
                    )
                head = self._current_version(name)
                if refs["main"]["snapshot_id"] != head:
                    raise ValueError(
                        f"refusing to drop 'main' at "
                        f"{refs['main']['snapshot_id']} below storage "
                        f"head {head}: readers would jump to an "
                        f"unpublished snapshot — fast_forward first"
                    )
            del refs[ref]
            return refs

        self._refs_cas(name, mutate)

    def load_table_ref(self, name: str, ref: str) -> Manifest:
        """Read the table as of a named ref — ``load_table_at`` with a
        name instead of a snapshot id."""
        refs = self.list_refs(name)
        if ref not in refs:
            raise KeyError(f"no such ref: {ref!r}")
        return self.load_table_at(name, refs[ref]["snapshot_id"])

    def _retained_lineage(self, name: str, head: int) -> set:
        """Parent chain from ``head`` down to the first EXPIRED ancestor
        (exclusive) — the tolerant variant of ``snapshot_lineage`` for
        surfaces that must keep working after routine maintenance:
        ``expire_snapshots`` legitimately removes old main-lineage
        ancestors, and that must not make time travel to the RETAINED
        snapshots raise.  Unreachable branch allocations stay excluded
        (the walk only follows parent stamps)."""
        parents = self.snapshot_parents(name)
        history = sorted(parents)
        out: set = set()
        cur: "int | None" = head
        for _ in range(len(history) + 1):
            if cur is None or cur not in parents:
                break
            out.add(cur)
            parent = parents[cur]
            if parent is None:
                # root, or pre-stamp metadata: legacy linear fallback
                idx = history.index(cur)
                parent = history[idx - 1] if idx > 0 else None
            cur = parent
        return out

    def load_table_as_of(self, name: str, timestamp_ms: int) -> "Manifest":
        """Timestamp time travel (Iceberg's ``FOR SYSTEM_TIME AS OF``):
        the last snapshot committed AT or BEFORE ``timestamp_ms``; ties
        within one millisecond resolve to the highest version.  When
        main is pinned (a WAP table), only MAIN-lineage snapshots are
        eligible — an unpublished audit-branch commit must never answer
        a main time-travel read.  An expired lineage TAIL is tolerated
        (the eligible set is the retained chain)."""
        ts = self.snapshot_timestamps(name)
        main = self.list_refs(name).get("main")
        if main:
            chain = self._retained_lineage(name, main["snapshot_id"])
            ts = {sid: t for sid, t in ts.items() if sid in chain}
        eligible = [sid for sid, t in ts.items() if t <= timestamp_ms]
        if not eligible:
            raise TableNotFound(
                f"{name}: no snapshot committed at or before "
                f"{timestamp_ms} (earliest: {min(ts.values(), default=0)})"
            )
        return self.load_table_at(name, max(eligible))

    def _protected_snapshots(self, name: str) -> set:
        """Snapshot ids expiration must retain: every ref head, plus
        each non-main BRANCH's lineage under its retention policy.

        Default (no retention fields on the ref): the FULL lineage — a
        staged branch's intermediate commits must survive expiration or
        its later fast-forward publish could not verify ancestry.  With
        ``max_snapshot_age_ms`` / ``min_snapshots_to_keep`` declared on
        the ref (Iceberg's per-ref retention), the lineage is trimmed:
        keep the newest ``min_snapshots_to_keep`` (head included) plus
        everything younger than the age cutoff.  A TAG pins exactly one
        snapshot; main's ancestry expires positionally like always.
        Tolerant of pre-stamp history (no parent info -> head-only
        pinning, the legacy behavior)."""
        import time as _time

        refs = self.list_refs(name)
        if not refs:
            return set()
        parents = self.snapshot_parents(name)
        ts: dict | None = None
        now_ms = int(_time.time() * 1000)
        keep: set = set()
        for ref, info in refs.items():
            sid = info["snapshot_id"]
            keep.add(sid)
            if ref == "main" or info.get("type") == "tag":
                continue
            chain = [sid]  # newest first
            cur = sid
            for _ in range(len(parents) + 1):
                nxt = parents.get(cur)
                if nxt is None or nxt not in parents:
                    break
                chain.append(nxt)
                cur = nxt
            max_age = info.get("max_snapshot_age_ms")
            min_keep = info.get("min_snapshots_to_keep")
            if max_age is None:
                # Iceberg semantics: min-snapshots-to-keep is a FLOOR
                # under the age rule and never reduces retention by
                # itself.  Without an age cutoff nothing trims, so the
                # floor is trivially satisfied by the full lineage —
                # trimming to exactly N here would let arbitrarily
                # young ancestors expire and could break a later
                # fast_forward ancestry walk.
                keep.update(chain)
                continue
            keep.update(chain[: max(1, int(min_keep or 1))])
            if ts is None:
                ts = self.snapshot_timestamps(name)
            cutoff = now_ms - int(max_age)
            # unknown commit time (pre-stamp versions, ts=0) is NOT
            # "infinitely old": age-based trimming keeps what it
            # cannot date (same conservative stance as
            # _expire_aged_refs' head_ts guard)
            keep.update(
                s
                for s in chain
                if not ts.get(s, 0) or ts[s] >= cutoff
            )
        return keep

    def _expirable_snapshots(
        self, name: str, keep_last: int, older_than_ms: "int | None" = None
    ) -> list:
        """The snapshot ids expire_snapshots may remove — one shared
        policy for every versioned-metadata backend:

        - aged refs are dropped first (per-ref ``max_ref_age_ms``),
          releasing their exclusive lineage;
        - the newest ``keep_last`` snapshots always survive, raised by
          the table property ``history.expire.min-snapshots-to-keep``
          when the table declares it (Iceberg's property-driven
          retention);
        - with ``history.expire.max-snapshot-age-ms`` declared, only
          snapshots OLDER than the age cutoff are eligible (both gates
          must agree — properties only ever make expiration more
          conservative here, since the engine API's keep_last is the
          operator's explicit ask);
        - an explicit ``older_than_ms`` (Iceberg's ``olderThan``
          TIMESTAMP argument) keeps everything committed at-or-after
          it — another conjunctive gate, and undated pre-stamp
          snapshots are again never treated as infinitely old;
        - ref-protected snapshots (heads + per-ref retained lineage)
          never expire."""
        import time as _time

        keep_last = max(1, keep_last)
        props = {}
        try:
            props = self.load_table(name).properties or {}
        except Exception:
            pass
        # Iceberg's gc.enabled=false: snapshot/registered tables share
        # files with their source — expiring THIS table's snapshots
        # could unlink files the source (or this fork) still reads.
        # Refuse before touching anything (refs included).
        _check_gc_enabled(props, "expire snapshots")
        self._expire_aged_refs(name)
        min_keep = props.get("history.expire.min-snapshots-to-keep")
        if min_keep is not None:
            keep_last = max(keep_last, int(min_keep))
        history = self.table_history(name)
        pinned = self._protected_snapshots(name)
        eligible = [v for v in history[:-keep_last] if v not in pinned]
        max_age = props.get("history.expire.max-snapshot-age-ms")
        if max_age is not None:
            cutoff = int(_time.time() * 1000) - int(max_age)
            ts = self.snapshot_timestamps(name)
            # undated snapshots (pre-stamp, ts=0) are NOT infinitely
            # old — same conservative stance as the per-ref trim
            eligible = [
                v for v in eligible if ts.get(v, 0) and ts[v] < cutoff
            ]
        if older_than_ms is not None:
            ts = self.snapshot_timestamps(name)
            eligible = [
                v
                for v in eligible
                if ts.get(v, 0) and ts[v] < int(older_than_ms)
            ]
        return eligible

    def _expire_aged_refs(self, name: str) -> list[str]:
        """Drop non-main refs whose ``max_ref_age_ms`` has elapsed —
        measured from the commit timestamp of the snapshot the ref
        points at (how Iceberg's RemoveSnapshots ages refs).  Run by
        :meth:`expire_snapshots` BEFORE computing protection, so a
        stale audit branch stops pinning its lineage forever (WAP
        tables would otherwise accumulate pinned lineages)."""
        import time as _time

        refs = self.list_refs(name)
        aged = []
        ts: dict | None = None
        now_ms = int(_time.time() * 1000)
        for ref, info in refs.items():
            if ref == "main":
                continue
            max_age = info.get("max_ref_age_ms")
            if max_age is None:
                continue
            if ts is None:
                ts = self.snapshot_timestamps(name)
            head_ts = ts.get(info["snapshot_id"], 0)
            if head_ts and now_ms - head_ts > int(max_age):
                aged.append(ref)
        for ref in aged:
            with contextlib.suppress(KeyError):
                self.drop_ref(name, ref)
        return aged

    def _ref_move_cas(
        self,
        name: str,
        target: str,
        expected: int,
        allocated: int,
        pre_main: int,
    ) -> None:
        """Atomically move ``target`` from ``expected`` to
        ``allocated``, pinning main at ``pre_main`` if this is the
        table's first ref-targeted commit — the publish half of a
        branch commit (the allocation half is backend-specific)."""
        from iceberg_compaction_spark.commit import CommitConflict

        def mutate(r: dict) -> dict:
            now = r.get(target, {}).get("snapshot_id")
            if now is None and target == "main":
                now = pre_main  # main still implicit: pin below
            if now != expected:
                raise CommitConflict(
                    f"{name}: ref {target!r} moved to {now} during "
                    f"commit (expected {expected})"
                )
            carried = {
                k: v
                for k, v in r.get(target, {}).items()
                if k in self.RETENTION_FIELDS
            }
            r[target] = {
                "type": "branch", "snapshot_id": allocated, **carried
            }
            if "main" not in r:
                # first ref-targeted commit on a legacy warehouse whose
                # branch predates main-pinning: freeze main where it was
                r["main"] = {"type": "branch", "snapshot_id": pre_main}
            return r

        self._refs_cas(name, mutate)

    def _embedded_refs_map(
        self, refs: dict, target: str, allocated: int, pre_main: int
    ) -> dict:
        """The spec-spelled ``refs`` map a ref-targeted commit embeds in
        its TableMetadata: EVERY existing ref carried through (a table
        with a second branch or tags must not have them erased from the
        metadata's refs view — round-11 review finding), main pinned at
        its pre-commit head, the target moved to the allocation.  The
        CASed refs side file stays authoritative; this map is what
        external conforming readers see."""
        def entry(info: dict, sid: int, rtype: str) -> dict:
            out = {"snapshot-id": sid, "type": rtype}
            # the spec's SnapshotRef retention fields ride along
            # (kebab-spelled) so external readers see the policy too
            for k in self.RETENTION_FIELDS:
                v = info.get(k)
                if v is not None:
                    out[k.replace("_", "-")] = int(v)
            return out

        er = {
            r: entry(info, info["snapshot_id"], info.get("type", "branch"))
            for r, info in refs.items()
        }
        er["main"] = entry(
            refs.get("main", {}),
            allocated if target == "main" else pre_main,
            "branch",
        )
        er[target] = entry(refs.get(target, {}), allocated, "branch")
        return er

    def _check_branch_target(self, refs: dict, to_branch: str) -> None:
        ref = refs.get(to_branch)
        if ref is None:
            raise KeyError(
                f"no such branch: {to_branch!r} (create_branch first)"
            )
        if ref["type"] != "branch":
            raise ValueError(
                f"ref {to_branch!r} is a {ref['type']}, not a branch"
            )


@dataclass
class FileCatalog(TableRefs):
    """Minimal catalog: namespace = directory, table = versioned
    metadata files.  All mutations go through CAS commits.

    All byte-level access routes through the FileIO seam
    (sources/fileio.py), resolved from the warehouse URI's scheme — the
    same catalog code runs over POSIX (``/wh`` or ``file://``), the
    in-memory object store (``mem://``, the test tier standing in for
    the reference's MinIO integration harness), or fsspec-backed object
    stores.
    """

    warehouse: str

    # ---- layout --------------------------------------------------------

    @property
    def _io(self):
        from iceberg_compaction_spark.sources.fileio import fileio_for

        return fileio_for(self.warehouse)

    def _table_dir(self, name: str) -> str:
        return self._io.join(self.warehouse, name)

    def _metadata_dir(self, name: str) -> str:
        return self._io.join(self._table_dir(name), "metadata")

    # TableRefs host hook: refs side files live with the metadata
    _refs_dir = _metadata_dir

    def _version_path(self, name: str, version: int) -> str:
        return self._io.join(self._metadata_dir(name), f"v{version}.metadata.json")

    def _hint_path(self, name: str) -> str:
        return self._io.join(self._metadata_dir(name), "version-hint.text")

    # ---- catalog API ---------------------------------------------------

    def list_tables(self) -> list[str]:
        io = self._io
        if not io.is_dir(self.warehouse):
            return []
        return sorted(
            d
            for d in io.listdir(self.warehouse)
            if io.is_dir(io.join(self.warehouse, d, "metadata"))
        )

    def table_exists(self, name: str) -> bool:
        return self._io.is_dir(self._metadata_dir(name))

    def create_table(self, name: str, manifest: Manifest) -> Manifest:
        """Register a table; its first metadata version is a COPY of the
        given manifest with snapshot id 1 (the argument is not mutated).

        Concurrent creators race on the exclusive v1 create (directories
        are implicit on object stores, so makedirs can't arbitrate): the
        loser surfaces the documented ``TableAlreadyExists``, not a raw
        ``FileExistsError``.
        """
        if self.table_exists(name):
            raise TableAlreadyExists(name)
        self._io.makedirs(self._metadata_dir(name))
        registered = Manifest.from_dict(manifest.to_dict())
        registered.snapshot_id = 1
        registered.assign_row_ids()  # v3 row lineage (no-op on v2)
        try:
            self._write_version(name, registered, exclusive=True)
        except FileExistsError:
            raise TableAlreadyExists(name) from None
        return registered

    def load_table(self, name: str) -> Manifest:
        """Current table state.  When ``main`` is a pinned ref (any
        branch-targeted commit pins it — see :meth:`commit_table`), the
        pinned snapshot IS the table: branch commits allocate higher
        storage versions without becoming visible here until a
        fast-forward publishes them (write-audit-publish).  Otherwise
        the highest committed version is current (the hint file is an
        optimization; the directory scan is authoritative, matching
        HadoopTableOperations' fallback)."""
        v = self._current_version(name)
        if v == 0:
            raise TableNotFound(name)
        main = self.list_refs(name).get("main")
        if main:
            v = main["snapshot_id"]
        return Manifest.from_dict(
            json.loads(self._io.read_bytes(self._version_path(name, v)))
        )

    def table_history(self, name: str) -> list[int]:
        """All committed snapshot ids, ascending — every version file is
        retained on disk (Iceberg keeps superseded snapshots until
        expiration), so the full history is always listable."""
        mdir = self._metadata_dir(name)
        if not self._io.is_dir(mdir):
            raise TableNotFound(name)
        return sorted(
            int(n[1:].split(".", 1)[0])
            for n in self._io.listdir(mdir)
            if n.startswith("v") and n.endswith(".metadata.json")
        )

    def load_table_at(self, name: str, snapshot_id: int) -> Manifest:
        """Time travel: the table exactly as of ``snapshot_id``.  A
        compaction commit rewrites files but never changes visible rows,
        so reading an old snapshot returns the pre-compaction file set —
        Iceberg's snapshot-read semantics."""
        path = self._version_path(name, snapshot_id)
        try:
            return Manifest.from_dict(json.loads(self._io.read_bytes(path)))
        except FileNotFoundError:
            raise TableNotFound(
                f"{name}@{snapshot_id} (history: "
                f"{self.table_history(name) if self.table_exists(name) else []})"
            ) from None

    def _version_stamp(self, name: str, sid: int) -> tuple:
        """(parent-or-_MISSING, committed-at-ms) of one version,
        memoized process-wide: version files are IMMUTABLE once their
        exclusive create wins (the CAS protocol), so the two lineage
        fields can be cached by path forever — without this, every
        lineage/timestamp walk re-parses the FULL file listing of every
        version (O(history x files) driver JSON at 10^5-file scale, per
        call).  Existence is still governed by table_history's listing,
        so expiration is never masked."""
        path = self._version_path(name, sid)
        hit = _stamp_cache_get(self._io, path)
        if hit is not None:
            return hit
        token = _stamp_token(self._io, path)  # BEFORE the read
        raw = json.loads(self._io.read_bytes(path))
        out = (
            raw.get("parent-snapshot-id", _STAMP_MISSING),
            int(raw.get("committed-at-ms", 0)),
        )
        _stamp_cache_put(path, out, token)
        return out

    def snapshot_parents(self, name: str) -> dict[int, "int | None"]:
        """snapshot id -> parent snapshot id (None for roots or for
        versions written before parent stamping; see snapshot_lineage's
        legacy fallback)."""
        out = {}
        for sid in self.table_history(name):
            parent = self._version_stamp(name, sid)[0]
            out[sid] = None if parent is _STAMP_MISSING else parent
        return out

    def snapshot_lineage(
        self, name: str, end: int, start: int = 0
    ) -> list[int]:
        """Snapshot ids on ``end``'s parent chain with id strictly above
        ``start``, ascending — the commit log a MAIN (or branch) reader
        must walk once branch commits interleave storage versions
        (global version order is NOT lineage order on a WAP table).

        Versions without a parent stamp (pre-round-10 commits, when no
        branches could exist) fall back to the previous retained
        version — exactly the legacy linear history.  A chain that
        needs an EXPIRED snapshot above ``start`` raises (the walk
        cannot silently skip commits)."""
        history = self.table_history(name)
        hset = set(history)
        if end not in hset:
            raise TableNotFound(f"{name}@{end}")
        out = []
        cur: "int | None" = end
        for _ in range(len(history) + 1):
            if cur is None or cur <= start:
                break
            if cur not in hset:
                raise ValueError(
                    f"{name}: lineage snapshot {cur} above {start} has "
                    f"been expired (retained: {history})"
                )
            out.append(cur)
            parent = self._version_stamp(name, cur)[0]
            if parent is _STAMP_MISSING:
                idx = history.index(cur)
                parent = history[idx - 1] if idx > 0 else None
            cur = parent
        return sorted(out)

    def snapshot_timestamps(self, name: str) -> dict[int, int]:
        """snapshot id -> committed-at wall-clock ms (0 for versions
        written before timestamps were stamped)."""
        return {
            sid: self._version_stamp(name, sid)[1]
            for sid in self.table_history(name)
        }

    # load_table_as_of comes from TableRefs (shared with the hadoop
    # backend); it consumes snapshot_timestamps above and tolerates an
    # expired lineage tail via _retained_lineage.

    def expire_snapshots(
        self,
        name: str,
        keep_last: int = 2,
        older_than_ms: "int | None" = None,
    ) -> list[int]:
        """Iceberg's expire-snapshots maintenance: drop the oldest
        version files, always retaining the newest ``keep_last``
        (minimum 1 — the head is never expirable) and every snapshot a
        tag or branch points at (Iceberg never expires referenced
        snapshots).  Returns the expired snapshot ids.  Time-travel to
        an expired snapshot then raises TableNotFound, exactly like
        Iceberg after expiration.

        Per-ref retention (round 11): refs past their
        ``max_ref_age_ms`` are dropped first, releasing their exclusive
        lineage for expiration; surviving branches pin lineage under
        their own ``max_snapshot_age_ms`` / ``min_snapshots_to_keep``
        (full lineage when undeclared); the TABLE properties
        ``history.expire.max-snapshot-age-ms`` /
        ``history.expire.min-snapshots-to-keep`` tighten the policy
        further (see TableRefs._expirable_snapshots).  ``older_than_ms``
        is Iceberg's ``olderThan`` timestamp: with it set, snapshots
        committed at-or-after that instant additionally survive."""
        expired = self._expirable_snapshots(name, keep_last, older_than_ms)
        for v in expired:
            with contextlib.suppress(FileNotFoundError):
                self._io.remove(self._version_path(name, v))
            _stamp_cache_invalidate(self._version_path(name, v))
        return expired

    # Iceberg's remove_orphan_files default olderThan is 3 days — the
    # grace window that keeps in-flight writers' staged files safe.
    DEFAULT_ORPHAN_GRACE_S = 3 * 24 * 3600

    def remove_orphan_files(
        self,
        name: str,
        scan_root: str | None = None,
        older_than_s: float = DEFAULT_ORPHAN_GRACE_S,
        dry_run: bool = False,
    ) -> list[str]:
        return remove_orphan_files_for(
            self, name, scan_root, older_than_s, dry_run
        )

    def commit_table(
        self,
        name: str,
        expected_snapshot_id: int,
        new_manifest: Manifest,
        to_branch: str | None = None,
    ):
        """CAS commit: publish ``new_manifest`` as the next snapshot of
        the target ref iff that ref is still at ``expected_snapshot_id``.

        Three regimes, all built on the exclusive version-file create:

        - **unpinned main** (no branch commit ever happened; ``main``
          absent from refs, ``to_branch`` unset): exactly the classic
          protocol — the exclusive create of ``v<expected+1>`` IS the
          compare-and-swap; version == snapshot id.
        - **``to_branch=B``** (the reference's branch-targeted commit,
          ``core/src/compaction/mod.rs:97,1307-1336``): the snapshot is
          stored as the next free version (exclusive create — storage
          allocation, not the consistency check), then a refs-CAS moves
          ``B`` from ``expected_snapshot_id`` to the new snapshot.  The
          FIRST branch commit pins ``main`` at its pre-commit head in
          the SAME refs write, so ``load_table`` provably never sees
          branch snapshots until a fast-forward publishes them.  The
          catalog owns the allocated snapshot id on this path (the
          caller's ``new_manifest.snapshot_id`` is overwritten).
        - **pinned main** (``main`` in refs, ``to_branch`` unset): same
          allocate-then-move shape with ``main`` as the target ref.

        Raises ``commit.CommitConflict`` (retryable) when another writer
        got there first — the target ref moved past ``expected``, or the
        classic path's exclusive create lost its race.  A snapshot
        allocated for a commit that then loses the refs-CAS is unlinked
        best-effort (and would age out as an orphan regardless).

        Caveat (documented, not load-bearing for WAP): the transition
        from unpinned to pinned main is not atomic against concurrent
        UNPINNED main commits — create branches before opening the
        table to concurrent writers, which is the write-audit-publish
        pattern anyway.
        """
        import contextlib as _ctx

        from iceberg_compaction_spark.commit import CommitConflict

        refs = self.list_refs(name)
        if to_branch == "main":
            to_branch = None  # main targeting is the default path
        if to_branch is not None:
            self._check_branch_target(refs, to_branch)
        pinned = to_branch is not None or "main" in refs
        if not pinned:
            # classic protocol: version == snapshot id == expected + 1
            new_version = expected_snapshot_id + 1
            if new_manifest.snapshot_id != new_version:
                raise ValueError(
                    f"new manifest snapshot {new_manifest.snapshot_id} != "
                    f"expected head {expected_snapshot_id} + 1"
                )
            current = self._current_version(name)
            if current == 0:
                raise TableNotFound(name)
            if current != expected_snapshot_id:
                raise CommitConflict(
                    f"{name}: head at v{current}, commit expected "
                    f"v{expected_snapshot_id}"
                )
            try:
                self._write_version(
                    name,
                    new_manifest,
                    exclusive=True,
                    parent=expected_snapshot_id,
                )
            except FileExistsError:
                raise CommitConflict(
                    f"{name}: lost CAS race for v{new_version}"
                ) from None
            return new_manifest

        # ref-targeted: check the TARGET REF's head, not the storage head
        target = to_branch or "main"
        cur_ref = refs.get(target)
        cur_sid = (
            cur_ref["snapshot_id"]
            if cur_ref is not None
            else self._current_version(name)
        )
        if cur_sid != expected_snapshot_id:
            raise CommitConflict(
                f"{name}: ref {target!r} at {cur_sid}, commit expected "
                f"{expected_snapshot_id}"
            )
        # pin main's pre-commit position before allocating, so the pin
        # value can never include this commit
        pre_main = (
            refs["main"]["snapshot_id"]
            if "main" in refs
            else self._current_version(name)
        )
        # storage allocation: next free version, retried under contention
        # (losing this create is NOT a consistency conflict — the target
        # ref is re-checked in the refs-CAS below)
        allocated = 0
        for _ in range(64):
            v = self._current_version(name) + 1
            new_manifest.snapshot_id = v
            try:
                # update_hint=False: the hint must only ever point at
                # PUBLISHED-main states — bump-then-repoint would leave
                # an exposure window (and a crash between the two would
                # leave it permanently on an unpublished snapshot)
                self._write_version(
                    name,
                    new_manifest,
                    exclusive=True,
                    parent=expected_snapshot_id,
                    update_hint=False,
                )
                allocated = v
                break
            except FileExistsError:
                continue
        if not allocated:
            raise CommitConflict(
                f"{name}: version allocation contention (64 attempts)"
            )

        try:
            self._ref_move_cas(
                name, target, expected_snapshot_id, allocated, pre_main
            )
        except CommitConflict:
            # the allocated snapshot never became referenced: unlink it
            # (and drop its memoized stamp — a retry may re-create the
            # same path with different lineage)
            with _ctx.suppress(FileNotFoundError):
                self._io.remove(self._version_path(name, allocated))
            _stamp_cache_invalidate(self._version_path(name, allocated))
            raise
        if target == "main":
            self._write_version_hint(name, allocated)
        return new_manifest

    # ---- internals -----------------------------------------------------

    def _current_version(self, name: str) -> int:
        """Highest version ON DISK — always a directory scan, never the
        hint.  The hint is a published-main pointer for external
        readers; since branch allocations stopped bumping it (round-11
        hint discipline) it can legitimately sit BELOW the storage head
        with gaps above it (a removed branch allocation), and the old
        probe-hint+1 shortcut would then return a stale head — the next
        commit would REUSE an expired snapshot id below the real head
        (review finding).  Allocation and safety checks must see the
        true head; the listing is one listdir at metadata scale."""
        io = self._io
        mdir = self._metadata_dir(name)
        if not io.is_dir(mdir):
            return 0
        versions = [
            int(n[1:].split(".", 1)[0])
            for n in io.listdir(mdir)
            if n.startswith("v") and n.endswith(".metadata.json")
        ]
        return max(versions, default=0)

    def _write_version_hint(self, name: str, sid: int) -> None:
        """Advisory hint update — the published-main pointer external
        hint-following readers resolve.  Best-effort (readers rescan on
        staleness)."""
        self._io.write_atomic(self._hint_path(name), str(sid).encode())

    def _write_version(
        self,
        name: str,
        manifest: Manifest,
        exclusive: bool = False,
        parent: int | None = None,
        update_hint: bool = True,
    ) -> None:
        import time

        io = self._io
        path = self._version_path(name, manifest.snapshot_id)
        d = manifest.to_dict()
        if parent is not None:
            # Iceberg's parent-snapshot-id: which snapshot this commit
            # was built on — catalog bookkeeping (Manifest round-trips
            # ignore it) that makes lineage walkable once branch
            # commits interleave version numbers (snapshot_lineage)
            d["parent-snapshot-id"] = parent
        # commit wall-clock (Iceberg's snapshot timestamp-ms): stamped
        # at WRITE time, read back via snapshot_timestamps — it is
        # catalog bookkeeping, not manifest state, so Manifest
        # round-trips ignore it.  Clamped monotone over the previous
        # version: clock skew between committers must never give a
        # later version an earlier stamp, or load_table_as_of's
        # eligible-set max skips an intermediate snapshot.
        stamp = int(time.time() * 1000)
        try:
            prev = json.loads(
                io.read_bytes(
                    self._version_path(name, manifest.snapshot_id - 1)
                )
            ).get("committed-at-ms")
            if prev is not None:
                stamp = max(stamp, int(prev) + 1)
        except (FileNotFoundError, ValueError, OSError):
            pass
        d["committed-at-ms"] = stamp
        payload = json.dumps(d, indent=1).encode()
        if exclusive:
            # THE atomic CAS: exactly one writer creates this version
            if not io.create_exclusive(path, payload):
                raise FileExistsError(path)
        else:
            io.write_bytes(path, payload)
        if update_hint:
            # hint update is advisory (readers rescan on staleness);
            # BRANCH allocations suppress it — the hint must only ever
            # point at published-main states, with no exposure window
            self._write_version_hint(name, manifest.snapshot_id)


def catalog_from_options(options) -> object:
    """ONE catalog-resolution rule for every options-driven surface —
    the ``iceberg-table`` DataSource (all read/write/stream paths) and
    any caller holding DataSource-style string options.  The reference
    is REST-first end-to-end (its integration tier drives compaction
    through a REST catalog + object store,
    ``integration-tests/src/integration_tests.rs:38-579``); this factory
    is what lets ``spark.read.format("iceberg-table")`` reach the same
    backends the engine API already supports:

    - ``catalog=file`` (default): the engine-native versioned-JSON
      layout (:class:`FileCatalog`); needs ``warehouse``.
    - ``catalog=hadoop``: the REAL Iceberg on-disk layout — genuine
      ``v<N>.metadata.json`` + Avro manifests
      (:class:`~.iceberg_meta.IcebergHadoopCatalog`); needs
      ``warehouse``.  Named refs / branches / WAP (the TableRefs
      mixin) and timestamp time travel (per-snapshot ``timestamp-ms``)
      work on this backend too.
    - ``catalog=rest``: an Iceberg-REST-protocol server
      (:class:`~.rest_catalog.RestCatalog`); needs ``uri``; honors
      ``namespace`` and ``token``.

    Everything the factory consumes is a plain string, so holders can
    keep the option dict and stay picklable (the DataSource reader
    objects ship to executors; catalog construction itself only ever
    happens driver-side).
    """
    kind = str(options.get("catalog", "file") or "file").lower()
    if kind == "file":
        if "warehouse" not in options:
            raise ValueError("catalog=file needs option 'warehouse'")
        return FileCatalog(warehouse=options["warehouse"])
    if kind == "hadoop":
        from iceberg_compaction_spark.sources.iceberg_meta import (
            IcebergHadoopCatalog,
        )

        if "warehouse" not in options:
            raise ValueError("catalog=hadoop needs option 'warehouse'")
        return IcebergHadoopCatalog(warehouse=options["warehouse"])
    if kind == "rest":
        from iceberg_compaction_spark.sources.rest_catalog import RestCatalog

        uri = options.get("uri")
        if not uri:
            raise ValueError(
                "catalog=rest needs option 'uri' (server base URL)"
            )
        return RestCatalog(
            uri=uri,
            namespace=options.get("namespace", "default"),
            token=options.get("token"),
        )
    raise ValueError(
        f"unknown catalog kind {kind!r}; expected one of file|hadoop|rest"
    )


def remove_orphan_files_for(
    catalog,
    name: str,
    scan_root: str | None = None,
    older_than_s: float = FileCatalog.DEFAULT_ORPHAN_GRACE_S,
    dry_run: bool = False,
) -> list[str]:
    """Iceberg's remove-orphan-files maintenance: delete parquet files
    under the table's data root that no RETAINED snapshot references
    (crashed writes, files superseded by expired snapshots).  Returns
    the removed paths.  Catalog-generic: works over any backend exposing
    ``_io`` / ``table_history`` / ``load_table_at`` / ``load_table``
    (FileCatalog and IcebergHadoopCatalog both qualify).

    Safety mirrors Iceberg's on BOTH axes: only the table's own root
    is scanned, only ``*.parquet`` and ``*.stats.puffin`` (theta NDV
    statistics files) are eligible, the referenced set is the union
    over ALL retained snapshots — data paths, delete paths, AND
    registered statistics paths — and — like the Spark
    procedure's ``olderThan`` (default 3 days) — only files whose
    mtime is older than ``older_than_s`` are eligible.  An in-flight
    writer stages its data/delete parquet under the table root
    BEFORE its CAS commit (``ingest.upsert``); without the grace
    window a concurrent maintenance pass could unlink those files
    and the writer's later commit would publish dangling paths.
    As a second guard the head manifest is re-loaded AFTER the walk
    and any path it references is excluded — this catches a commit
    that landed while the walk was running.  Pass ``older_than_s=0``
    only when no concurrent writers exist (tests, offline repair).
    """
    import time

    io = catalog._io
    try:
        _check_gc_enabled(
            catalog.load_table(name).properties, "remove orphan files"
        )
    except TableNotFound:
        pass
    referenced: set[str] = set()
    root = scan_root
    for v in catalog.table_history(name):
        m = catalog.load_table_at(name, v)
        referenced.update(io.canonical(p) for p in m.paths())
        for t in m.data_files:
            for d in t.deletes:
                referenced.add(io.canonical(d.path))
        for s in m.statistics_files + m.partition_statistics_files:
            referenced.add(io.canonical(s["statistics-path"]))
        root = root or m.table_root
    if not root or not io.is_dir(root):
        return []
    cutoff = time.time() - older_than_s
    candidates = []
    for p in io.walk_files(root):
        # eligible kinds: data/delete parquet, and theta-NDV statistics
        # puffin (compute_table_stats output — unregistered ones are
        # crash leftovers or superseded-registration files)
        if not (p.endswith(".parquet") or p.endswith(".stats.puffin")):
            continue
        if io.canonical(p) in referenced:
            continue
        try:
            if io.mtime(p) > cutoff:
                continue  # inside the grace window: maybe in-flight
        except OSError:
            continue  # vanished mid-walk: someone else owns it
        candidates.append(p)
    # a commit may have landed during the walk — never unlink what
    # the (possibly new) head now references
    try:
        head = catalog.load_table(name)
        referenced.update(io.canonical(p) for p in head.paths())
        for t in head.data_files:
            for d in t.deletes:
                referenced.add(io.canonical(d.path))
        for s in head.statistics_files + head.partition_statistics_files:
            referenced.add(io.canonical(s["statistics-path"]))
    except TableNotFound:
        pass
    removed = []
    for p in candidates:
        if io.canonical(p) in referenced:
            continue
        if not dry_run:
            # dry_run=True reports what WOULD be removed (the audit
            # step operators run before the first destructive pass)
            with contextlib.suppress(FileNotFoundError):
                io.remove(p)
        removed.append(p)
    return sorted(removed)


def rollback_table(
    catalog, name: str, snapshot_id: int, to_branch: str | None = None
) -> Manifest:
    """Iceberg's rollback: make the table CURRENT state equal snapshot
    ``snapshot_id`` again by committing a NEW snapshot carrying that
    state — history is append-only (the bad commits stay queryable via
    time travel; expiration is how they eventually age out), exactly
    like the Spark procedure ``rollback_to_snapshot``.

    Catalog-generic (FileCatalog / IcebergHadoopCatalog / RestCatalog —
    anything with ``load_table`` / ``load_table_at`` / ``commit_table``)
    and CAS-retried: losing a race re-reads the head and re-commits the
    rollback on top, which is the only sane semantics (the rollback
    wins over whatever landed in between — the operator ASKED for this
    state).  Data files keep their original sequence numbers; the
    commit stamps ``overwrite`` because visible rows change.
    """
    from iceberg_compaction_spark.commit import commit_catalog

    def build(cur: Manifest) -> Manifest | None:
        if cur.snapshot_id == snapshot_id:
            return None  # already there: no empty commit
        old = catalog.load_table_at(name, snapshot_id)
        new = Manifest.from_dict(old.to_dict())
        new.snapshot_id = cur.next_snapshot()
        # monotonic over the head we are replacing, never backwards —
        # a later equality delete must still apply above this snapshot
        new.sequence_number = max(cur.sequence_number, old.sequence_number) + 1
        new.operation = "overwrite"
        return new

    return commit_catalog(catalog, name, build, to_branch)


def cherry_pick(
    catalog, name: str, snapshot_id: int, to_branch: str | None = None
) -> Manifest:
    """Iceberg's ``cherrypick_snapshot``: apply a staged snapshot's
    changes onto the CURRENT target head as a new commit — the WAP
    publish path when ``fast_forward`` refuses because main has
    advanced past the branch's fork point.

    Like Iceberg's ``cherrypick_snapshot``, two snapshot shapes are
    replayable:

    - **appends** — the staged snapshot's diff against ITS OWN parent
      adds data files and nothing else.  The added files enter the
      target at the NEW commit's sequence number: they are new data as
      of this commit, so existing equality deletes (strictly lower
      sequence) correctly do not apply to them.
    - **dynamic overwrites** (replace-partitions, round 12 —
      :func:`~iceberg_compaction_spark.sources.ingest.overwrite_partitions`)
      — the staged snapshot removes and adds files confined to a set
      of partition CELLS, with no delete-set changes on surviving
      files.  Replay is allowed only when every replaced cell is
      UNTOUCHED on the target head since the fork (identical file set
      and delete attachments there); a cell the head has since
      modified is a genuine conflict and rejects loudly — replaying
      over it would silently drop the head's writes.

    Anything else (rewrites with delete-set changes, upserts) is
    rejected: replaying could resurrect deleted rows or double-apply
    deletes.

    Catalog-generic and CAS-retried like :func:`rollback_table`.
    """
    import dataclasses

    from iceberg_compaction_spark.commit import commit_catalog
    from iceberg_compaction_spark.sources.changes import diff_files

    def build(cur: Manifest) -> Manifest | None:
        staged = catalog.load_table_at(name, snapshot_id)
        parents = catalog.snapshot_parents(name)
        parent_id = parents.get(snapshot_id)
        if parent_id is None:
            raise ValueError(
                f"{name}@{snapshot_id} has no parent stamp — cherry-pick "
                "needs the staged commit's base to compute its changes"
            )
        parent = catalog.load_table_at(name, parent_id)
        diff = diff_files(parent, staged)
        if diff.removed_data_files or diff.changed_delete_files:
            if (
                staged.operation == "overwrite"
                and not diff.changed_delete_files
            ):
                return _cherry_pick_overwrite(
                    cur, name, snapshot_id, staged, parent, diff
                )
            raise ValueError(
                f"cherry-pick supports append-only and "
                f"replace-partitions snapshots; {name}@{snapshot_id} "
                f"removes {len(diff.removed_data_files)} file(s) and "
                f"changes deletes on {len(diff.changed_delete_files)} — "
                "publish via fast_forward (exact lineage) or re-apply "
                "the DML against the current head"
            )
        have = set(cur.paths())
        added_set = set(diff.added_data_files)
        added = [
            t for t in staged.data_files if t.data_file_path in added_set
        ]
        dups = [t.data_file_path for t in added if t.data_file_path in have]
        if dups:
            raise ValueError(
                f"cherry-pick target already contains "
                f"{len(dups)} of the staged files (already published?): "
                f"{dups[:3]}"
            )
        if not added:
            return None  # empty append: nothing to publish
        new = cur.successor("append")
        for t in added:
            new.data_files.append(
                dataclasses.replace(
                    t, sequence_number=new.sequence_number, deletes=[]
                )
            )
        return new

    return commit_catalog(catalog, name, build, to_branch)


def _cell_state(manifest: Manifest, cells: set) -> dict:
    """cell -> frozenset of (data path, sorted delete paths) within the
    given partition cells — the untouched-since-fork comparison key for
    replace-partitions cherry-pick (a new/removed file OR a new delete
    attachment in the cell both count as 'touched')."""
    from iceberg_compaction_spark.sources.ingest import partition_cell

    state: dict = {c: set() for c in cells}
    for t in manifest.data_files:
        c = partition_cell(t.partition)
        if c in state:
            state[c].add(
                (
                    t.data_file_path,
                    tuple(sorted(d.path for d in t.deletes)),
                )
            )
    return {c: frozenset(v) for c, v in state.items()}


def _cherry_pick_overwrite(
    cur: Manifest,
    name: str,
    snapshot_id: int,
    staged: Manifest,
    parent: Manifest,
    diff,
) -> Manifest:
    """Replay a staged replace-partitions (dynamic overwrite) snapshot
    onto the moved target head ``cur`` — Iceberg ``cherrypick_snapshot``
    parity for WAP flows that stage a partition overwrite.  Called
    from inside :func:`cherry_pick`'s commit build; see its docstring
    for the conflict contract."""
    import dataclasses

    from iceberg_compaction_spark.sources.ingest import partition_cell

    removed_set = set(diff.removed_data_files)
    added_set = set(diff.added_data_files)
    removed = [
        t for t in parent.data_files if t.data_file_path in removed_set
    ]
    added = [
        t for t in staged.data_files if t.data_file_path in added_set
    ]
    # the replaced cells: everything the overwrite removed from or
    # wrote into (a written-but-previously-empty cell is replaced too —
    # head files that appeared there since the fork are a conflict)
    cells = {partition_cell(t.partition) for t in removed} | {
        partition_cell(t.partition) for t in added
    }
    spec_arity = len(parent.partition_spec or [])
    if spec_arity and any(len(c) != spec_arity for c in cells):
        raise ValueError(
            f"cherry-pick of {name}@{snapshot_id}: the staged overwrite "
            "touches files without a full partition tuple — replaying "
            "it cannot be scoped to partition cells; re-apply the DML "
            "against the current head"
        )
    # untouched-since-fork validation, cell by cell
    fork_state = _cell_state(parent, cells)
    head_state = _cell_state(cur, cells)
    dirty = sorted(
        str(c) for c in cells if fork_state[c] != head_state[c]
    )
    if dirty:
        raise ValueError(
            f"cherry-pick of {name}@{snapshot_id}: partition cell(s) "
            f"{dirty[:3]} changed on the target since the staged "
            "overwrite's fork — replaying would drop those writes; "
            "re-apply the DML against the current head"
        )
    dups = {t.data_file_path for t in cur.data_files} & added_set
    if dups:
        raise ValueError(
            f"cherry-pick target already contains "
            f"{len(dups)} of the staged files (already published?): "
            f"{sorted(dups)[:3]}"
        )
    new = cur.successor("overwrite")
    new.data_files = [
        t
        for t in new.data_files
        if partition_cell(t.partition) not in cells
    ]
    for t in added:
        new.data_files.append(
            dataclasses.replace(
                t, sequence_number=new.sequence_number, deletes=[]
            )
        )
    return new


def _check_gc_enabled(properties: dict, what: str) -> None:
    """Iceberg's ``gc.enabled`` table property: ``false`` marks a table
    whose files are SHARED with another table (a snapshot_table fork,
    or a register_table adoption of metadata it does not own), so
    garbage-collecting maintenance must refuse — Spark-Iceberg's
    procedures throw the same way.  Non-destructive maintenance
    (compaction rewrites, manifest rewrite, stats) stays allowed: those
    only ADD files."""
    if str((properties or {}).get("gc.enabled", "true")).lower() == "false":
        raise ValueError(
            f"cannot {what}: gc.enabled=false on this table — its files "
            "may be shared with the table it was snapshotted/registered "
            "from; run maintenance on the owning table instead"
        )


def snapshot_table(
    catalog,
    source: str,
    dest: str,
    table_root: str | None = None,
    properties: dict | None = None,
    dest_catalog=None,
) -> Manifest:
    """Iceberg's ``snapshot_table`` procedure: create a NEW independent
    table ``dest`` whose first snapshot references the SOURCE table's
    current data/delete files — a zero-copy fork (metadata only, no
    data IO; THE way to stage a test/dev fork of a 100 TB production
    table).  New writes to the fork land under the fork's own
    ``table_root``; the source never sees them.

    Like Iceberg, the fork is stamped ``gc.enabled=false`` plus
    ``snapshot.source-table`` / ``snapshot.source-snapshot-id``:
    expire_snapshots and the orphan sweeps REFUSE on the fork, because
    its initial files belong to the source (a fork GC walking shared
    paths could unlink data the source still reads).  The fork ages
    out of usefulness when the SOURCE's maintenance rewrites/expires
    the shared files — same documented lifecycle as Iceberg's.

    ``dest_catalog`` forks ACROSS catalogs (stage a production table
    into a dev warehouse): the fork registers there, under that
    warehouse's directory for ``dest``, still zero-copy.

    Catalog-generic: any backend with ``load_table``/``create_table``.
    """
    target = dest_catalog if dest_catalog is not None else catalog
    src = catalog.load_table(source)
    snap = Manifest.from_dict(src.to_dict())
    if table_root is None:
        if not hasattr(target, "_table_dir"):
            # falling back to the SOURCE's root would put the fork's
            # future writes inside the source directory, where the
            # source's (gc-enabled) orphan sweep could unlink them —
            # refuse instead of silently breaking the isolation contract
            raise ValueError(
                "this catalog backend cannot derive a fork directory; "
                "pass table_root= explicitly (the fork's own location "
                "for new writes)"
            )
        table_root = target._table_dir(dest)
    snap.table_root = table_root
    io = getattr(target, "_io", None)  # REST clients have no local io
    if io is not None and not io.is_dir(table_root):
        io.makedirs(table_root)
    snap.operation = "append"
    props = dict(snap.properties or {})
    props["gc.enabled"] = "false"
    props["snapshot.source-table"] = source
    props["snapshot.source-snapshot-id"] = str(src.snapshot_id)
    props.update(properties or {})
    snap.properties = props
    # stats belong to the source's snapshots, not the fork's
    snap.statistics_files = []
    snap.partition_statistics_files = []
    return target.create_table(dest, snap)


def register_table(catalog, name: str, metadata_file: str) -> Manifest:
    """Iceberg's ``register_table`` procedure: adopt an EXISTING table
    by its metadata file — no data IO, no manifest rewrite; the catalog
    entry's first version is a copy of the loaded state and the data
    files stay exactly where they are.

    ``metadata_file`` may be a real-Iceberg ``v<N>.metadata.json`` (or
    a table directory containing ``metadata/``, resolved through the
    same loader the hadoop tier uses — Avro manifest lists, v2
    sequence-number inheritance, puffin DVs) or an engine-native
    manifest JSON.  The adopted table keeps gc ENABLED only when its
    metadata is self-owned; since a registration typically SHARES files
    with the original location, the entry is stamped
    ``gc.enabled=false`` — drop the property explicitly after
    physically taking ownership of the files."""
    import json as _json

    raw = None
    try:
        raw = _json.loads(catalog._io.read_bytes(metadata_file))
    except (IsADirectoryError, PermissionError, OSError):
        pass  # a directory: the real-metadata loader resolves it below
    if raw is not None and "data_files" in raw and "table_root" in raw:
        m = Manifest.from_dict(raw)  # engine-native manifest JSON
    else:
        from iceberg_compaction_spark.sources.iceberg_meta import (
            load_iceberg_table,
        )

        m = load_iceberg_table(metadata_file)
    adopted = Manifest.from_dict(m.to_dict())
    props = dict(adopted.properties or {})
    # force, don't setdefault: source metadata carrying an explicit
    # gc.enabled=true must not leave GC armed on an adoption that
    # shares files with the original location (the docstring's
    # "drop the property after physically taking ownership" applies)
    props["gc.enabled"] = "false"
    props["register.source-metadata"] = metadata_file
    adopted.properties = props
    return catalog.create_table(name, adopted)


def migrate_table(
    catalog,
    name: str,
    parquet_dir: str,
    recursive: bool = False,
    properties: dict | None = None,
) -> Manifest:
    """Iceberg's ``migrate_table`` procedure: turn an existing plain
    parquet directory (a Hive-style table) into a catalog table
    IN PLACE — footer-only metadata bootstrap (record counts + column
    bounds per file, the same stats ``add_files`` collects), no data
    copied or moved.  ``recursive`` descends hive-style partition
    layouts.  Unlike :func:`register_table`/:func:`snapshot_table` the
    migrated table OWNS its files (nothing else references them), so gc
    stays ENABLED and the full maintenance tier applies immediately —
    which is the point: migrate, then compact the historical
    small-file mess.

    This is THE 100 TB onboarding path: one footer read per file at
    plan time, one catalog commit, and the entire engine surface
    (compaction, DML, stats, lineage once upgraded to v3) lights up
    over data that never moved."""
    m = Manifest.from_parquet_dir(
        parquet_dir, sequence_number=1, recursive=recursive
    )
    if properties:
        m.properties = {**m.properties, **properties}
    m.properties.setdefault("migrate.source-dir", parquet_dir)
    return catalog.create_table(name, m)
