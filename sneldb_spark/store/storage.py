"""Filesystem abstraction for the store's directory mutations and sweeps.

Everything the engine does to storage outside of Spark itself — swapping a
materialized result, compacting a segment directory, sweeping Parquet
footers for pruning — funnels through a `Storage` object so an
object-store backend can be slotted in without touching engine code.

Why an abstraction is needed at 100 TB (reference parity note: the
reference is a single-node engine writing POSIX segments,
src/engine/core/segment/; a Spark deployment reads from a lake):

- POSIX `os.replace` is atomic. Object stores (S3/GCS/ABFS) have no
  rename at all — "rename" is copy+delete, non-atomic, and directories
  are just key prefixes. So the layer does NOT promise atomic rename.
  `publish_dir`'s portable contract is weaker and sufficient:
    1. there is never a moment with zero readable copies of `dst` — the
       previous live copy is moved aside BEFORE the new one lands and
       removed only AFTER, and
    2. a crash at any step is repaired by `recover_dir`, which is
       idempotent and cheap (metadata-only), called by readers before
       first open.
  `ObjectStoreStorage` (below) satisfies the same two clauses with a
  pointer convention instead of renames: write the new copy under a
  fresh versioned prefix, flip one small "current" pointer object
  (single-key PUT is atomic on S3/GCS/ABFS), then GC the old prefix.
  `LocalStorage` uses renames because it can. Readers resolve the live
  copy through `resolve()` (identity on POSIX).

- `walk_parquet` abstracts the footer sweeps (top-k file pruning,
  context range layout, high-water-mark probes). Local = os.walk;
  object store = one LIST call over the prefix (flat — no recursion
  needed, keys are already enumerable).

Publish protocol (LocalStorage):

    staging = storage.stage_path(dst)      # dst + ".staging"
    <write the new copy under staging>     # e.g. df.write.parquet(...)
    storage.publish_dir(dst)               # old->aside, staging->dst, GC

Crash matrix for `recover_dir(dst)`:
    dst present                -> GC stray .old/.staging (crash after step
                                  2 or before publish started); done.
    dst missing, .old present  -> crash between step 1 and 2: restore
                                  .old (the previous live copy — it is
                                  the one the manifest hwm describes);
                                  the staged copy is discarded, the next
                                  refresh re-derives it idempotently.
    dst missing, only .staging -> first publish crashed mid-flight (there
                                  never was a live copy): promote staging.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import time
from collections.abc import Iterator


class ObjectStoreTransientError(Exception):
    """A retryable object-store failure: the HTTP 500/503/429/timeout
    class every real store (S3/GCS/ABFS) returns under load. Carries
    `op_done`: True means the server applied the operation but the
    response was lost (the nastier half of 'timeout') — a correct client
    must retry in a way that tolerates the first attempt having landed."""

    def __init__(self, msg: str, op_done: bool = False):
        super().__init__(msg)
        self.op_done = op_done


class Storage:
    """Directory-level storage operations. See module docstring for the
    object-store portability contract each method must honor."""

    _STAGING = ".staging"
    _OLD = ".old"

    def resolve(self, path: str) -> str:
        """Physical location of the live copy of a publish-managed
        directory. Local = the path itself (renames keep the live copy AT
        `path`); object store = the pointer's current versioned prefix.
        Readers and live-dir appenders pass managed paths through this
        before opening; identity for unmanaged paths on every backend."""
        return path

    # -- primitive ops (override these per backend) -----------------------
    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def is_dir(self, path: str) -> bool:
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def remove_tree(self, path: str) -> None:
        """Delete a directory tree; silent no-op when absent."""
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Move a directory. Local: atomic os.replace. Object store:
        implemented as pointer-flip (see module docstring), never called
        on data keys."""
        raise NotImplementedError

    def walk_parquet(self, root: str) -> Iterator[str]:
        """Yield every *.parquet file path under `root` (recursive)."""
        raise NotImplementedError

    # -- derived protocol (backend-independent) ---------------------------
    def file_signature(self, root: str) -> tuple:
        """Sorted (path, size, mtime_ns) of every parquet file under
        `root`: what a frame listing `root` was built from. Every change
        a reader can see — a new segment, a rewrite, a publish onto a
        new prefix — changes it. No Spark call: a directory walk and one
        stat per file (None, None for a path that vanished mid-walk or
        an object key with no local file)."""
        files = []
        for f in self.walk_parquet(root):
            try:
                st = os.stat(f)
                files.append((f, st.st_size, st.st_mtime_ns))
            except OSError:
                files.append((f, None, None))
        return tuple(sorted(files))

    def stage_path(self, dst: str) -> str:
        return dst + self._STAGING

    def publish_dir(self, dst: str, keep_live: set[str] | None = None) -> None:
        """Make the staged copy at `stage_path(dst)` the live copy.
        Preconditions: the staged copy is complete (the caller finished
        writing it). Postcondition clauses 1-2 of the module contract.

        `keep_live`: physical copy paths an in-flight reader has pinned
        (a serve frame's build-time file listing) that GC must spare.
        The rename-based local protocol CANNOT honor it — the previous
        copy is moved aside and removed (LOCAL is the single-process,
        no-concurrent-reader backend by contract); the pointer-flip
        backend keeps pinned versions alive until their readers drop.
        A non-empty keep_live here logs a warning so the degraded
        slow-reader guarantee is visible, not silent."""
        self._warn_keep_live_ignored(dst, keep_live)
        staging, old = self.stage_path(dst), dst + self._OLD
        if not self.exists(staging):
            raise FileNotFoundError(f"no staged copy at {staging}")
        self.remove_tree(old)  # leftover from an already-recovered crash
        if self.exists(dst):
            self.rename(dst, old)  # step 1: previous copy moved aside
        self.rename(staging, dst)  # step 2: staged copy goes live
        self.remove_tree(old)  # step 3: GC

    def _warn_keep_live_ignored(
        self, dst: str, keep_live: set[str] | None
    ) -> None:
        """Rename-based backends delete the superseded copy outright, so
        a live serve frame's pin is NOT honored — log once per engine
        lifetime so operators choosing LOCAL with concurrent readers see
        the degraded contract instead of a silent FAILED_READ_FILE."""
        if keep_live:
            import logging

            if not getattr(self, "_keep_live_warned", False):
                self._keep_live_warned = True
                logging.getLogger(__name__).warning(
                    "storage backend %s cannot honor keep_live pins "
                    "(%d live serve frame(s) on %s): the rename-based "
                    "publish deletes the superseded copy; slow readers "
                    "may hit FAILED_READ_FILE. Use an object-store "
                    "backend (pointer-flip + gc_grace_versions) for "
                    "concurrent-reader deployments.",
                    type(self).__name__,
                    len(keep_live),
                    dst,
                )

    def recover_dir(self, dst: str, keep_live: set[str] | None = None) -> None:
        """Repair a crashed publish; idempotent, cheap when clean.
        `keep_live` as in publish_dir (honored by pointer-flip backends;
        warned-and-ignored here)."""
        self._warn_keep_live_ignored(dst, keep_live)
        staging, old = self.stage_path(dst), dst + self._OLD
        if not self.exists(dst):
            if self.exists(old):
                self.rename(old, dst)
            elif self.exists(staging):
                self.rename(staging, dst)
        self.remove_tree(old)
        self.remove_tree(staging)


class LocalStorage(Storage):
    """POSIX filesystem backend (the only one runnable in this repo's
    environment; the class boundary is what a cloud deployment swaps)."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def remove_tree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def rename(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def walk_parquet(self, root: str) -> Iterator[str]:
        # skip _temporary/, .staging crumbs etc. — Spark's readers ignore
        # underscore/dot-prefixed paths (hidden by convention), so footer
        # sweeps must too or an in-flight write's task files would count
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
            for f in filenames:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    yield os.path.join(dirpath, f)


class ObjectClient:
    """Minimal object-store client surface — the four operations every
    real object store (S3/GCS/ABFS) offers and the ONLY ones
    :class:`ObjectStoreStorage` uses. Notably absent: rename/move (object
    stores have none) and any directory concept (keys are flat strings;
    "directories" are key prefixes)."""

    def put(self, key: str, data: bytes) -> None:
        """Create or replace one object. Single-key put is atomic —
        readers see the old bytes or the new bytes, never a mix (true on
        S3/GCS/ABFS; the pointer-flip protocol rests on this)."""
        raise NotImplementedError

    def get(self, key: str) -> bytes:
        """Read one object; KeyError when absent."""
        raise NotImplementedError

    def list(self, prefix: str) -> list[str]:
        """All object keys that start with `prefix` (raw string-prefix
        match, no delimiter semantics — S3 ListObjectsV2 without a
        Delimiter)."""
        raise NotImplementedError

    def delete(self, key: str) -> None:
        """Delete one object; silent no-op when absent."""
        raise NotImplementedError


class DirObjectClient(ObjectClient):
    """Directory-backed object-store fake: keys are absolute file paths
    under a bucket root, objects are the files themselves. This is the
    test double for the protocol AND the shape a real deployment takes —
    Spark writes parquet straight into the versioned prefixes (exactly as
    it writes `s3a://` prefixes in production) while every directory
    MUTATION goes through the four-op client API above. The fake never
    renames on behalf of the storage layer."""

    def __init__(self, bucket_root: str):
        self.bucket_root = os.path.abspath(bucket_root)
        os.makedirs(self.bucket_root, exist_ok=True)

    def _check(self, key: str) -> str:
        key = os.path.abspath(key)
        if not key.startswith(self.bucket_root + os.sep):
            raise ValueError(f"key {key!r} outside bucket {self.bucket_root!r}")
        return key

    def put(self, key: str, data: bytes) -> None:
        key = self._check(key)
        os.makedirs(os.path.dirname(key), exist_ok=True)
        # atomic single-key put: write-temp + os.replace of ONE file (this
        # is the fake's stand-in for S3's atomic object PUT; the storage
        # layer itself never renames)
        tmp = key + ".__put_tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, key)

    def get(self, key: str) -> bytes:
        key = self._check(key)
        try:
            with open(key, "rb") as f:
                return f.read()
        except (FileNotFoundError, IsADirectoryError):
            raise KeyError(key) from None

    def list(self, prefix: str) -> list[str]:
        # raw string-prefix semantics: abspath would drop a trailing
        # separator and make "data/" match "data.v1/..." — keep it
        trailing = prefix.endswith(("/", os.sep))
        prefix = os.path.abspath(prefix) + (os.sep if trailing else "")
        # every matching key lives under the prefix's parent directory:
        # walk from there (or the prefix itself when it IS a directory)
        # instead of the whole bucket, so a LIST over one type's prefix
        # does not pay for every other object in the store
        base = prefix.rstrip(os.sep)
        start = base if os.path.isdir(base) else os.path.dirname(base)
        if not (start + os.sep).startswith(self.bucket_root + os.sep) and (
            start != self.bucket_root
        ):
            start = self.bucket_root
        # scandir, not os.walk: half the Python work per LIST, which the
        # served read path pays on every prepared-plan validity check
        out = []
        stack = [start]
        while stack:
            try:
                entries = os.scandir(stack.pop())
            except OSError:  # gone mid-walk, or not a directory
                continue
            with entries:
                for e in entries:
                    if e.is_dir():
                        if not e.is_symlink():  # os.walk's followlinks=False
                            stack.append(e.path)
                    elif e.path.startswith(prefix):
                        out.append(e.path)
        return sorted(out)

    def delete(self, key: str) -> None:
        key = self._check(key)
        try:
            os.remove(key)
        except (FileNotFoundError, IsADirectoryError):
            return
        # prune now-empty parent dirs so Spark/os listings don't see
        # phantom empty directories (real object stores have no dirs)
        d = os.path.dirname(key)
        while d != self.bucket_root:
            try:
                os.rmdir(d)
            except OSError:
                break
            d = os.path.dirname(d)


class FaultInjectingObjectClient(ObjectClient):
    """Wraps any :class:`ObjectClient` with real object-store failure
    semantics the perfect-filesystem fake hides:

    - **Transient errors** (HTTP 500/503/timeout): each operation draws
      against `transient_rate`; half the injected failures set
      ``op_done=True`` — the server applied the op but the response was
      lost — so retry layers are exercised against BOTH halves of a
      timeout, not just the clean connection-refused half.
    - **Latency**: `latency_s` seconds per round trip (a LIST of 3 pages
      is 3 round trips).
    - **List paging**: `page_size` splits ``list`` into S3
      ListObjectsV2-style pages, each its own faultable round trip, and
      the listing is NOT a snapshot — keys deleted between pages vanish,
      keys created between pages may appear (re-listed from the live
      inner store per page, exactly the consistency a paged LIST gives).
    - **Crash points**: `fail_at_op` kills the process model at the Nth
      client operation (`fail_side` 'before' = op never reached the
      server, 'after' = op landed, then we died) by raising `crash_exc`.
      Sweeping N over a whole publish/recover episode proves the
      protocol has no unrecoverable interleaving — the object-store
      analogue of the local backend's crash matrix.

    Determinism: pass a seeded ``random.Random`` as `rng`; the draw
    sequence is then a pure function of the op sequence. Counter and rng
    access is lock-guarded, so the class is safe to share across writer
    threads (the soak does); under concurrency the op ORDER is whatever
    the thread schedule produces, so determinism holds per-op-sequence,
    not per-wall-clock-run. IO and the latency sleep happen outside the
    lock — concurrent round trips don't serialize.
    """

    def __init__(
        self,
        inner: ObjectClient,
        *,
        rng=None,
        transient_rate: float = 0.0,
        latency_s: float = 0.0,
        page_size: int | None = None,
        fail_at_op: int | None = None,
        fail_side: str = "before",
        crash_exc: type[BaseException] = RuntimeError,
    ):
        self.inner = inner
        self.rng = rng
        self.transient_rate = transient_rate
        self.latency_s = latency_s
        self.page_size = page_size
        self.fail_at_op = fail_at_op
        self.fail_side = fail_side
        self.crash_exc = crash_exc
        self.op_count = 0  # round trips attempted (crash sweep index)
        self.transients_injected = 0
        self._lock = threading.Lock()

    def _round_trip(self, op, *args):
        """One faultable request/response cycle around `op`."""
        with self._lock:
            self.op_count += 1
            n = self.op_count
            crash = self.fail_at_op is not None and n == self.fail_at_op
            inject = (
                not crash
                and self.rng is not None
                and self.rng.random() < self.transient_rate
            )
            op_done = inject and self.rng.random() < 0.5
            if inject:
                self.transients_injected += 1
        if self.latency_s:
            time.sleep(self.latency_s)
        if crash:
            if self.fail_side == "after":
                # the op lands (even if it would have raised, e.g. a GET
                # on a missing key) and THEN the process dies — the crash
                # preempts whatever the response would have been
                try:
                    op(*args)
                finally:
                    raise self.crash_exc(
                        f"simulated crash at op {n} (after)"
                    ) from None
            raise self.crash_exc(f"simulated crash at op {n} (before)")
        if inject:
            if op_done:
                op(*args)
            raise ObjectStoreTransientError(
                f"injected 503 at op {n} (op_done={op_done})", op_done=op_done
            )
        return op(*args)

    def put(self, key: str, data: bytes) -> None:
        self._round_trip(self.inner.put, key, data)

    def get(self, key: str) -> bytes:
        return self._round_trip(self.inner.get, key)

    def delete(self, key: str) -> None:
        self._round_trip(self.inner.delete, key)

    def list(self, prefix: str) -> list[str]:
        if self.page_size is None:
            return self._round_trip(self.inner.list, prefix)
        # paged listing: every page is a separate round trip against the
        # LIVE store keyed by a continuation token (the last key of the
        # previous page) — not a snapshot, exactly like ListObjectsV2
        out: list[str] = []
        after = ""
        while True:
            page = self._round_trip(
                lambda p=prefix, a=after: [
                    k for k in self.inner.list(p) if k > a
                ][: self.page_size]
            )
            out.extend(page)
            if len(page) < self.page_size:
                return out
            after = page[-1]


class RetryingObjectClient(ObjectClient):
    """Bounded-retry decorator for transient object-store failures —
    the role a real SDK's retry policy plays (boto3 'standard' mode,
    GCS resumable retries). Safe because every protocol operation is
    idempotent under at-least-once delivery:

    - ``put`` is a full-object replace: retrying a put whose first
      attempt landed rewrites the same bytes (pointer flips put the
      same target string — re-flipping to the same version is a no-op).
    - ``get``/``list`` are reads; re-issuing returns current state.
    - ``delete`` is a silent no-op on an absent key, so a retry after a
      landed delete succeeds vacuously (S3 DELETE returns 204 either
      way; GC sweeps rely on this).

    Retries are bounded (`attempts`) with exponential backoff; a still-
    failing op re-raises the last transient error for the caller to
    surface. Non-transient exceptions pass through untouched.
    """

    def __init__(self, inner: ObjectClient, *, attempts: int = 5, backoff_s: float = 0.0):
        self.inner = inner
        self.attempts = attempts
        self.backoff_s = backoff_s
        self.retries_used = 0

    def _retry(self, op, *args):
        for i in range(self.attempts):
            try:
                return op(*args)
            except ObjectStoreTransientError:
                if i == self.attempts - 1:
                    raise
                self.retries_used += 1
                if self.backoff_s:
                    time.sleep(self.backoff_s * (2**i))

    def put(self, key: str, data: bytes) -> None:
        self._retry(self.inner.put, key, data)

    def get(self, key: str) -> bytes:
        return self._retry(self.inner.get, key)

    def list(self, prefix: str) -> list[str]:
        return self._retry(self.inner.list, prefix)

    def delete(self, key: str) -> None:
        self._retry(self.inner.delete, key)


class ObjectStoreStorage(Storage):
    """Object-store backend: the module docstring's versioned-prefix +
    pointer-flip mapping, concretely.

    Layout for a managed logical directory `dst`:

    - data lives under versioned prefixes ``dst.v1/``, ``dst.v2/``, ...
      (or under the raw ``dst/`` prefix before the first publish — a dir
      populated by direct writes, e.g. a state dir at REMEMBER time);
    - one small pointer object at key ``dst + ".ptr"`` holds the prefix
      of the current live copy. ``resolve`` reads it (identity fallback).

    Protocol mapping (same two contract clauses as LocalStorage):

    - ``stage_path(dst)``  -> a FRESH prefix ``dst.v{max+1}`` (a crashed
      partial staging is never reused — its number is burned);
    - ``publish_dir(dst)`` -> atomic single-key pointer put to the newest
      staged prefix, THEN GC of every other copy (old versions + raw
      prefix). Clause 1 holds because the flip precedes all deletes;
    - ``recover_dir(dst)`` -> pointer present: GC non-target prefixes.
      Pointer absent with a live raw prefix: staged scratch discarded
      (the local matrix's "dst present -> GC strays"). Pointer absent,
      no raw copy, staged prefix(es) present: promote the newest (the
      local matrix's first-publish-crash row — staging completeness is
      the same caller precondition LocalStorage documents). There is NO
      "previous copy moved aside" window at all: the flip is atomic, so
      the `.old`-restore row of the local matrix is unreachable here.

    ``rename`` raises: nothing in the engine calls it on this backend —
    the protocol methods above are overridden wholesale, which is the
    point (object stores cannot rename).

    Naming: the ``.v<n>`` / ``.ptr`` suffixes are reserved namespace for
    managed dirs; sibling keys that collide with them are a caller bug.
    """

    _PTR = ".ptr"
    _VER = re.compile(r"\.v(\d+)(?:/|$)")

    def __init__(self, client: ObjectClient, gc_grace_versions: int = 0):
        self.client = client
        # Reader grace window (Iceberg-style snapshot retention, minimal
        # form): keep the `gc_grace_versions` newest SUPERSEDED copies
        # (version numbers below the live one, plus the raw pre-pointer
        # prefix while it is the immediately-previous live copy) through
        # publish and recover, GC'ing them only when later publishes push
        # them out of the window. 0 (default) = GC immediately after the
        # flip — correct for single-process tests; >=1 lets an in-flight
        # reader that resolved the pointer BEFORE a flip finish reading
        # the superseded copy instead of racing the GC. A reader that
        # outlives the window re-resolves and retries (read-repair);
        # see docs/scale.md "Object-store read/write protocol".
        self.gc_grace_versions = int(gc_grace_versions)

    # -- pointer helpers ---------------------------------------------------
    def _ptr_key(self, path: str) -> str:
        return path.rstrip("/") + self._PTR

    def _target(self, path: str) -> str | None:
        try:
            return self.client.get(self._ptr_key(path)).decode("utf-8")
        except KeyError:
            return None

    def _versions(self, dst: str) -> list[int]:
        vs = set()
        plen = len(dst) + 2  # past ".v"
        for k in self.client.list(dst + ".v"):
            m = self._VER.match(k[plen - 2:])
            if m:
                vs.add(int(m.group(1)))
        return sorted(vs)

    def _gc_prefix(self, prefix: str) -> None:
        for k in self.client.list(prefix.rstrip("/") + "/"):
            self.client.delete(k)

    # -- Storage API -------------------------------------------------------
    def resolve(self, path: str) -> str:
        t = self._target(path)
        return t if t is not None else path

    def exists(self, path: str) -> bool:
        if self._target(path) is not None:
            return True
        if self.client.list(path.rstrip("/") + "/"):
            return True
        try:
            self.client.get(path)
            return True
        except KeyError:
            return False

    def is_dir(self, path: str) -> bool:
        return bool(self.client.list(self.resolve(path).rstrip("/") + "/"))

    def makedirs(self, path: str) -> None:
        # object stores have no directories; nothing to create
        return

    def remove_tree(self, path: str) -> None:
        t = self._target(path)
        if t is not None:
            self._gc_prefix(t)
            self.client.delete(self._ptr_key(path))
        self._gc_prefix(path)
        # reserved version namespace + any nested pointers ride under the
        # same string prefix (`path.v3/...`, `path/sub.ptr`) — sweep them
        for k in self.client.list(path.rstrip("/") + ".v"):
            self.client.delete(k)

    def rename(self, src: str, dst: str) -> None:
        raise NotImplementedError(
            "object stores cannot rename; ObjectStoreStorage overrides the "
            "publish/recover protocol with pointer flips instead"
        )

    def walk_parquet(self, root: str) -> Iterator[str]:
        base = self.resolve(root).rstrip("/") + "/"
        for k in self.client.list(base):
            if not k.endswith(".parquet"):
                continue
            # same hidden-path convention as LocalStorage.walk_parquet
            if any(seg.startswith(("_", ".")) for seg in k[len(base):].split("/")):
                continue
            yield k

    # -- publish protocol (pointer-flip; no renames anywhere) --------------
    def stage_path(self, dst: str) -> str:
        vs = self._versions(dst)
        return f"{dst}.v{(vs[-1] + 1) if vs else 1}"

    def publish_dir(self, dst: str, keep_live: set[str] | None = None) -> None:
        cur = self._target(dst)
        vs = self._versions(dst)
        staged = f"{dst}.v{vs[-1]}" if vs else None
        if staged is None or staged == cur:
            raise FileNotFoundError(f"no staged copy at {dst}.v*")
        # the flip: one atomic single-key put — before it the old copy is
        # live, after it the new one is; there is never a zero-copy moment
        self.client.put(self._ptr_key(dst), staged.encode("utf-8"))
        # GC superseded copies, sparing the newest `gc_grace_versions`
        # PREVIOUSLY-LIVE ones for in-flight readers (see __init__) and
        # every copy in `keep_live` — versions a registered reader (serve
        # frame) pinned at build time stay readable until that reader
        # drops, however many publish cycles it sleeps through.
        # Eligible = versions at or below the outgoing live version;
        # numbers strictly between it and the new one are abandoned
        # staging scratch (never readable) and are always GC'd.
        grace = self.gc_grace_versions
        pinned = keep_live or set()
        below = vs[:-1]  # every version under the newly-live one
        cur_m = self._VER.search(cur[len(dst):]) if cur else None
        cur_n = int(cur_m.group(1)) if cur_m else None
        eligible = [v for v in below if cur_n is not None and v <= cur_n]
        keep = set(eligible[-grace:]) if grace else set()
        for v in below:
            if v not in keep and f"{dst}.v{v}" not in pinned:
                self._gc_prefix(f"{dst}.v{v}")
        # the raw pre-pointer prefix: immediately-previous live copy only
        # on the FIRST flip (cur was None); under grace it survives one
        # publish cycle and the next publish (cur now versioned) GCs it
        if not (grace and cur is None) and dst not in pinned:
            self._gc_prefix(dst)

    def recover_dir(self, dst: str, keep_live: set[str] | None = None) -> None:
        cur = self._target(dst)
        vs = self._versions(dst)
        pinned = keep_live or set()
        if cur is not None:
            # same grace rule as publish: recovery must not collapse the
            # reader window a concurrent publish just promised
            grace = self.gc_grace_versions
            cur_m = self._VER.search(cur[len(dst):])
            cur_n = int(cur_m.group(1)) if cur_m else None
            eligible = [
                v for v in vs if cur_n is not None and v < cur_n
            ]
            keep = set(eligible[-grace:]) if grace else set()
            for v in vs:
                # NEVER GC a version ABOVE the live pointer: from this
                # side it is indistinguishable from a concurrent
                # compaction's IN-PROGRESS staging, and deleting it
                # mid-write published a base-less (truncated) copy
                # (soak-reproduced: SHOW's recover racing the fold
                # thread's auto-compact rewrite cost a soak_seq
                # materialization ~10M stored rows). A genuinely
                # abandoned staging is reclaimed by the NEXT publish —
                # whose GC runs with the new pointer already flipped,
                # so every number below it is provably dead.
                if cur_n is not None and v > cur_n:
                    continue
                if (
                    f"{dst}.v{v}" != cur
                    and v not in keep
                    and f"{dst}.v{v}" not in pinned
                ):
                    self._gc_prefix(f"{dst}.v{v}")
            if not grace and dst not in pinned:
                self._gc_prefix(dst)
            return
        if self.client.list(dst.rstrip("/") + "/"):
            # live copy is the raw prefix. Staged versions are NOT GC'd
            # here for the same reason as above: a concurrent FIRST
            # compaction may be staging .v1 right now, and recovery
            # cannot tell it from crash scratch. The first publish
            # reclaims abandoned stagings (its GC runs after the flip).
            return
        if vs:
            # first publish crashed after staging, before the flip
            self.client.put(
                self._ptr_key(dst), f"{dst}.v{vs[-1]}".encode("utf-8")
            )
            for v in vs[:-1]:
                self._gc_prefix(f"{dst}.v{v}")


def grace_local_storage(root: str, gc_grace_versions: int = 1) -> ObjectStoreStorage:
    """Local-filesystem storage with a reader grace window — the backend a
    CONCURRENTLY-READ deployment (the server) should run on.

    ``LocalStorage``'s rename-based publish deletes the previous copy the
    moment the staged one goes live, so a Spark plan that listed segment
    files before a compaction publish loses them mid-scan
    (FAILED_READ_FILE — reproduced by tools/soak.py on the rename backend
    and pinned by tests/test_storage_grace.py). The reference parks
    readers during segment handover (src/engine/core/compaction, zone
    swap); on Spark the equivalent with ZERO reader blocking is snapshot
    retention: publish into a fresh versioned prefix, flip an atomic
    pointer, and keep the previously-live copy through `gc_grace_versions`
    further publishes so in-flight plans finish on the superseded copy.

    That protocol is exactly :class:`ObjectStoreStorage`; on a local disk
    the four client primitives are plain file ops (`DirObjectClient`), so
    this factory is a one-liner. Embedded single-threaded use (CLI tools,
    batch gates) can keep the leaner rename-based ``LocalStorage``; any
    engine that serves reads concurrently with FLUSH/compaction should
    take this instead — `[storage] backend = "grace"` (the served
    default) wires it up via config.create_engine.
    """
    return ObjectStoreStorage(DirObjectClient(root), gc_grace_versions=gc_grace_versions)


#: process-wide default; engine components take a `storage=` override.
LOCAL = LocalStorage()
