"""Commit timeline: ordered instants with file-manifest actions.

Parity: the reference's ``.hoodie/`` timeline — instant ids like
``20220307091628793`` (``spark/sql/quickstart.sql:74``), commit files inspected and
deleted for rollback tests (``spark/scripts/compatibility_test.sh:155-162``).

Each instant is one JSON file ``{base}/_timeline/{instant}.{action}.json`` written
atomically (tmp + rename). A data file is *live* at time T iff some committed
instant ≤ T added it and no committed instant ≤ T removed it. Uncommitted/partial
data directories are invisible to readers by construction — that IS the rollback
safety property the reference tests with fault injection.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

TIMELINE_DIR = "_timeline"

#: Actions (superset of Hudi's): commit = COW write, deltacommit = MOR log write,
#: replacecommit = compaction/clustering/overwrite, rollback, clean.
ACTIONS = ("commit", "deltacommit", "replacecommit", "rollback", "clean")

_seq_lock = threading.Lock()
_last_instant = ""


def new_instant() -> str:
    """Monotonic instant id: UTC ``yyyyMMddHHmmssSSS`` + 3-digit sequence."""
    global _last_instant
    with _seq_lock:
        now = datetime.now(timezone.utc).strftime("%Y%m%d%H%M%S%f")[:-3]
        candidate = now + "000"
        if candidate <= _last_instant:
            candidate = str(int(_last_instant) + 1).zfill(len(_last_instant))
        _last_instant = candidate
        return candidate


def normalize_as_of(ts: str) -> str:
    """Normalize the three timestamp-as-of formats of ``quickstart.sql:74-77``
    (full instant id, 'YYYY-MM-DD HH:MM:SS[.fff]', 'YYYY-MM-DD') to an instant
    upper bound (inclusive, lexicographic)."""
    s = ts.strip()
    if s.isdigit():
        return s.ljust(20, "9") if len(s) < 20 else s
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            dt = datetime.strptime(s, fmt)
            return dt.strftime("%Y%m%d%H%M%S%f")[:-3] + "999"
        except ValueError:
            continue
    raise ValueError(f"unrecognized as-of timestamp: {ts!r}")


def _readonly(*_args, **_kwargs):
    raise TypeError("timeline metadata is read-only; copy it to change it")


class _FrozenDict(dict):
    """A ``dict`` that refuses mutation: parsed instant metadata, shared by
    every ``Timeline.instants()`` caller. Still a ``dict`` for reads, JSON
    and equality; a writer builds a new dict (``{**meta, k: v}``)."""

    __setitem__ = __delitem__ = clear = pop = popitem = setdefault = update = _readonly
    __ior__ = _readonly

    def __reduce__(self):
        return (_FrozenDict, (dict(self),))


class _FrozenList(list):
    """A ``list`` that refuses mutation (see ``_FrozenDict``)."""

    __setitem__ = __delitem__ = append = extend = insert = pop = remove = _readonly
    clear = sort = reverse = __iadd__ = __imul__ = _readonly

    def __reduce__(self):
        return (_FrozenList, (list(self),))


def _freeze(v):
    """``v`` (parsed JSON) with every dict and list made read-only."""
    if isinstance(v, dict):
        return _FrozenDict((k, _freeze(x)) for k, x in v.items())
    if isinstance(v, list):
        return _FrozenList(_freeze(x) for x in v)
    return v


@dataclass
class Instant:
    instant: str
    action: str
    files_added: list[str] = field(default_factory=list)
    files_removed: list[str] = field(default_factory=list)
    #: extra metadata (operation name, record counts, clustering plan, …)
    meta: dict = field(default_factory=dict)
    #: wall-clock publish time (Hudi 1.0 completion time). The instant id is
    #: the BEGIN time; under non-blocking concurrency two MOR writers can
    #: publish in the opposite order they minted, and version resolution
    #: must then follow COMPLETION order (the causal commit order). None on
    #: instants written before this field existed.
    committed_at: float | None = None

    @property
    def is_data_commit(self) -> bool:
        return self.action in ("commit", "deltacommit", "replacecommit")


class Timeline:
    """Reads/writes the instant files under ``{base}/_timeline``.

    Long-lived tables archive: instants older than a retained window fold
    into one checkpoint manifest (``_timeline/_archive/checkpoint.json``
    holding the live-file state as of the archive boundary), so planning cost
    is O(active instants) no matter how many commits the table has seen —
    the ``hoodie.archive.*`` analogue. Archived instants are appended to
    ``_archive/instants.jsonl`` for audit; reads before the boundary raise
    (Hudi's archived timeline can't serve time travel either).
    """

    ARCHIVE_DIR = "_archive"

    def __init__(self, base: str):
        self.base = base
        self.dir = os.path.join(base, TIMELINE_DIR)
        #: (directory stat signature, parsed instants) — see ``instants()``
        self._instants_cache: tuple[tuple, list[Instant]] | None = None

    def _dir_signature(self) -> tuple | None:
        """Cheap change detector for the timeline directory: the sorted
        (name, mtime_ns, size, inode) of every instant file, from one
        ``scandir`` (stat-only — no file is opened). Every mutation path
        changes it: ``write`` publishes via ``os.replace`` of a freshly
        written tmp, which is a new inode even when a same-size rewrite lands
        within one mtime tick; ``remove``/archive unlink entries, and another
        PROCESS's writes land through the same rename protocol — so the
        signature is as multi-writer-safe as the directory itself. Returns
        None when the directory does not exist yet."""
        try:
            with os.scandir(self.dir) as it:
                return tuple(
                    sorted(
                        (e.name, st.st_mtime_ns, st.st_size, st.st_ino)
                        for e in it
                        if e.name.endswith(".json")
                        for st in (e.stat(),)
                    )
                )
        except FileNotFoundError:
            return None

    def _checkpoint_path(self) -> str:
        return os.path.join(self.dir, self.ARCHIVE_DIR, "checkpoint.json")

    def checkpoint(self) -> dict | None:
        p = self._checkpoint_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def checkpoint_files(self) -> dict[str, tuple[str, str]]:
        cp = self.checkpoint()
        return {r: tuple(v) for r, v in (cp["files"] if cp else {}).items()}

    def completed_boundary(self) -> float:
        """Max ``committed_at`` over archived data instants — the completion-time
        twin of the checkpoint's begin-id ``boundary``. A completion cursor
        older than this cannot be served: the archived changes it still owed
        are folded into the checkpoint and would silently land in the
        pre-window state (ADVICE r9 #2). 0.0 when the table never archived.
        Checkpoints written before this field existed fall back to replaying
        the audit log (which always kept the stamps)."""
        cp = self.checkpoint()
        if cp is None:
            return 0.0
        if "completed_boundary" in cp:
            return float(cp["completed_boundary"])
        return max((i.committed_at or 0.0 for i in self.archived_audit()), default=0.0)

    def archive(self, retain_data_instants: int = 20, pinned: set[str] | None = None) -> int:
        """Fold every instant older than the boundary into the checkpoint.

        The boundary keeps the most recent ``retain_data_instants`` data
        commits and is clamped to never cross a pin (active savepoint
        targets) or the target of a retained rollback (rollback retroactivity
        must keep seeing its target). Savepoint marker instants are never
        archived. Returns the number of instants archived."""
        insts = self.instants()
        completed = self.completed_data_instants()
        if len(completed) <= retain_data_instants:
            return 0
        boundary = completed[-retain_data_instants].instant
        pins = set(pinned or ())
        for i in insts:
            if i.action == "rollback" and i.instant >= boundary and i.meta.get("target"):
                pins.add(i.meta["target"])
        if pins:
            boundary = min([boundary, *pins])
        # savepoints pin restore targets; pending compaction/clustering plans
        # must stay visible to their executor no matter how old
        to_archive = [
            i
            for i in insts
            if i.instant < boundary
            and i.action
            not in ("savepoint", "compactionplan", "clusteringplan", "indexingplan")
        ]
        if not to_archive:
            return 0
        cp = self.checkpoint()
        files: dict[str, tuple[str, str]] = self.checkpoint_files()
        latest = cp["latest"] if cp else ""
        completed_boundary = self.completed_boundary()
        rolled = {i.meta.get("target") for i in insts if i.action == "rollback"}
        for inst in sorted(to_archive, key=lambda i: i.instant):
            if not inst.is_data_commit or inst.instant in rolled:
                continue
            for fp in inst.files_removed:
                files.pop(fp, None)
            for fp in inst.files_added:
                files[fp] = (inst.instant, inst.action)
            latest = max(latest, inst.instant)
            # completion boundary advances with the newest archived PUBLISH
            # stamp — a completion cursor behind it can no longer be served
            completed_boundary = max(completed_boundary, inst.committed_at or 0.0)
        adir = os.path.join(self.dir, self.ARCHIVE_DIR)
        os.makedirs(adir, exist_ok=True)
        with open(os.path.join(adir, "instants.jsonl"), "a") as f:
            for inst in sorted(to_archive, key=lambda i: i.instant):
                f.write(
                    json.dumps(
                        {
                            "instant": inst.instant,
                            "action": inst.action,
                            "files_added": inst.files_added,
                            "files_removed": inst.files_removed,
                            "meta": inst.meta,
                            # completion stamps are load-bearing (NBCC merge
                            # order) — they must survive archival in the audit
                            # log even though the checkpoint folds the files
                            "committed_at": inst.committed_at,
                        }
                    )
                    + "\n"
                )
        new_cp = {
            "boundary": boundary,
            "latest": latest,
            "completed_boundary": completed_boundary,
            "files": {r: list(v) for r, v in files.items()},
            "archived_instants": (cp["archived_instants"] if cp else 0) + len(to_archive),
        }
        tmp = self._checkpoint_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(new_cp, f)
        os.replace(tmp, self._checkpoint_path())  # commit point of the archive
        for inst in to_archive:
            self.remove(inst.instant)
        return len(to_archive)

    def instants(self) -> list[Instant]:
        """Parsed instants, oldest-first by filename.

        Cached on the directory stat signature (r11): the write path reads
        the timeline dozens of times per commit (planning, publish, index
        guards, snapshot reads), and re-opening + re-parsing every instant
        JSON each call made per-commit driver cost O(total commits) — O(n²)
        across a many-commit fixture. A signature hit costs one stat-only
        ``scandir``; any write (this process or another — the signature keys
        on (name, mtime_ns, size, inode), and publishes are tmp+rename so
        content rewrites always present a new inode) re-reads from disk.
        Returned ``Instant`` objects are fresh per call with fresh file
        lists; ``meta`` is parsed once into read-only structures
        (``_FrozenDict``/``_FrozenList``) shared with the cache, so a caller
        that mutates it gets a ``TypeError`` instead of corrupting the cache
        — and no call pays a deep copy. A writer copies first."""
        sig = self._dir_signature()
        if sig is None:
            return []
        cached = self._instants_cache
        if cached is None or cached[0] != sig:
            out = []
            for fn in sorted(entry[0] for entry in sig):
                with open(os.path.join(self.dir, fn)) as f:
                    d = json.load(f)
                out.append(
                    Instant(
                        d["instant"],
                        d["action"],
                        d.get("files_added", []),
                        d.get("files_removed", []),
                        _freeze(d.get("meta", {})),
                        d.get("committed_at"),
                    )
                )
            self._instants_cache = cached = (sig, out)
        return [
            Instant(
                i.instant,
                i.action,
                list(i.files_added),
                list(i.files_removed),
                i.meta,
                i.committed_at,
            )
            for i in cached[1]
        ]

    def completion_order(self) -> dict[str, int] | None:
        """Instant → completion rank, or None when completion order equals
        begin (instant-id) order — the overwhelmingly common case (single
        writer; COW multi-writer is serialized by OCC), which lets merge
        plans keep ordering by the raw commit column at zero cost. Only MOR
        log appends under non-blocking concurrency can complete out of
        order. Instants predating the committed_at field rank by instant id
        at epoch 0 (before any stamped instant — their completion order is
        unknowable and begin order is the historical behavior)."""
        data = [i for i in self.instants() if i.is_data_commit]
        by_begin = sorted(i.instant for i in data)
        by_completion = [
            i.instant
            for i in sorted(data, key=lambda i: (i.committed_at or 0.0, i.instant))
        ]
        if by_begin == by_completion:
            return None
        return {inst: seq for seq, inst in enumerate(by_completion, start=1)}

    def archived_audit(self) -> list[Instant]:
        """Instants folded past the checkpoint boundary, replayed from the
        ``_archive/instants.jsonl`` audit log (oldest first). Empty when the
        table never archived. ``committed_at`` is None for records written
        before stamps were kept in the audit log."""
        p = os.path.join(self.dir, self.ARCHIVE_DIR, "instants.jsonl")
        if not os.path.exists(p):
            return []
        out = []
        with open(p) as f:
            for line in f:
                if not line.strip():
                    continue
                d = json.loads(line)
                out.append(
                    Instant(
                        d["instant"],
                        d["action"],
                        d.get("files_added", []),
                        d.get("files_removed", []),
                        d.get("meta", {}),
                        d.get("committed_at"),
                    )
                )
        return out

    def write(self, inst: Instant) -> None:
        os.makedirs(self.dir, exist_ok=True)
        path = os.path.join(self.dir, f"{inst.instant}.{inst.action}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "instant": inst.instant,
                    "action": inst.action,
                    "files_added": inst.files_added,
                    "files_removed": inst.files_removed,
                    "meta": inst.meta,
                    # publish time: stamp now UNLESS the caller carries an
                    # explicit stamp (snapshot export re-synthesizing a clone
                    # timeline must preserve the SOURCE's completion order —
                    # re-stamping would silently flip a divergent NBCC
                    # history back to begin order on the clone)
                    "committed_at": (
                        inst.committed_at if inst.committed_at is not None else time.time()
                    ),
                },
                f,
                indent=1,
            )
        os.replace(tmp, path)  # atomic publish = the commit point

    def remove(self, instant: str) -> None:
        for fn in os.listdir(self.dir):
            if fn.startswith(instant + "."):
                os.remove(os.path.join(self.dir, fn))

    # -- snapshot computation -------------------------------------------------

    def live_files(self, as_of: str | None = None, completed_by: float | None = None):
        """(files, latest_instant): manifest replay up to ``as_of`` (inclusive).

        ``files`` maps relpath -> (adding_instant, action); ``action`` lets MOR
        readers split base files (commit/replacecommit) from log files (deltacommit).
        Rollback instants neutralize their target's additions via files_removed like
        any other remover.

        ``completed_by`` bounds the replay by COMPLETION stamp instead of (or in
        addition to) instant id: instants whose ``committed_at`` exceeds it are
        skipped — the snapshot a completion-time cursor consumer observes under
        non-blocking concurrency, where publish order, not begin order, defines
        visibility. Replay stays in instant-id order among the included set so
        replace/clustering supersession resolves deterministically. Instants
        predating the ``committed_at`` field (None) count as 0.0 — always
        included, matching ``completed_data_instants`` ordering rules.
        """
        insts = self.instants()
        # rollbacks apply retroactively (Hudi deletes the target's commit file):
        # a rolled-back instant never contributes, even to earlier as_of views.
        rolled = {i.meta.get("target") for i in insts if i.action == "rollback"}
        files: dict[str, tuple[str, str]] = {}
        latest = ""
        cp = self.checkpoint()
        if cp is not None:
            if as_of is not None and as_of < cp["boundary"]:
                raise ValueError(
                    f"as-of {as_of} predates the archived timeline boundary "
                    f"{cp['boundary']} — archived instants cannot serve time travel"
                )
            if completed_by is not None:
                # completion-time twin of the as_of guard (ADVICE r9 #2):
                # the checkpoint folds EVERY archived instant's files, so a
                # completion cut below the newest archived publish stamp would
                # silently include changes that completed AFTER the cut —
                # for an incremental consumer those changes land in the
                # pre-window state and vanish from the feed. Raise, exactly
                # as the begin-id path does, instead of diverging silently.
                cb = self.completed_boundary()
                if completed_by < cb:
                    raise ValueError(
                        f"completion cut {completed_by} predates the archived "
                        f"completion boundary {cb} — archived instants cannot "
                        f"serve completion-time snapshots or cursors"
                    )
            files = {r: tuple(v) for r, v in cp["files"].items()}
            latest = cp["latest"]
        for inst in insts:
            if not inst.is_data_commit or inst.instant in rolled:
                continue
            if as_of is not None and inst.instant > as_of:
                continue
            if completed_by is not None and (inst.committed_at or 0.0) > completed_by:
                continue
            for fp in inst.files_removed:
                files.pop(fp, None)
            for fp in inst.files_added:
                files[fp] = (inst.instant, inst.action)
            latest = max(latest, inst.instant)
        return files, latest

    def completed_data_instants(self) -> list[Instant]:
        insts = self.instants()
        rolled_back = {i.meta.get("target") for i in insts if i.action == "rollback"}
        return [
            i for i in insts if i.is_data_commit and i.instant not in rolled_back
        ]
