"""Multi-scheme artifact I/O — S11/S12 via the Hadoop FileSystem API.

The reference dispatches on URI scheme by hand (s3/s3n → RightAws PUT,
file → mkdir_p+write, hdfs → local shadow dir with a warning;
lib/hbacker/s3.rb:60-78). Spark's Hadoop layer already resolves
``file://``, ``hdfs://``, ``s3a://`` (with the right jars) uniformly, so
one code path covers every scheme — on a real cluster the same call
writes to S3/HDFS with no code change.
"""

from __future__ import annotations

import os
import re
import threading
import time
import uuid
import warnings
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import SparkSession

# In-process claim serializer for path_fence: Hadoop's
# FileSystem.createNewFile is check-then-act on LocalFileSystem (the
# default impl is exists() then create(), and the local create
# truncates instead of failing on a lost race), so two THREADS of one
# driver could both "win" the same lockfile. One mutex around the claim
# attempt makes in-process claims atomic; it is held only for the
# claim, never across the fenced work, so waiters still sleep-poll.
# Cross-PROCESS atomicity comes from the filesystem: local paths claim
# via kernel-atomic os.O_EXCL (create_new_file dispatches on the
# resolved scheme), HDFS via the namenode-atomic createNewFile; S3A has
# no compare-and-set, so there the fence is advisory — single-writer by
# deployment contract (catalog module docstring).
_CLAIM_MUTEX = threading.Lock()

# Schemes with a real atomic create-if-absent: local (kernel O_EXCL),
# HDFS-class (namenode-atomic createNewFile). Anything else — s3a/s3/
# gs/wasb/abfs object stores — is check-then-act UNLESS the filesystem
# advertises conditional-create support (below), so a fence claimed
# there is ADVISORY and the operator must know (ADVICE r10, medium):
# create_new_file emits a one-time warning per scheme instead of
# letting the degradation surface as silent lost updates.
ATOMIC_CREATE_SCHEMES = frozenset({None, "file", "hdfs", "webhdfs", "viewfs"})
_WARNED_SCHEMES: set[str] = set()

# Conditional create (VERDICT r11 #1): Hadoop 3.4.1+ exposes S3's
# conditional-write support (`If-None-Match` PUT — public S3 feature
# since Nov 2024, HADOOP-19256) through the createFile() builder; the
# option key doubles as the hasPathCapability probe string
# (Options.CreateFileOptionKeys.FS_OPTION_CREATE_CONDITIONAL_OVERWRITE,
# present in the bundled hadoop-client 3.4.2). Where the capability is
# advertised, a fence claim on an object store becomes a REAL atomic
# create-if-absent — the PUT itself carries the precondition, so two
# racing writers (or two stale-TTL takers) can never both win — and the
# advisory RuntimeWarning is NOT emitted. Where it is absent (older
# Hadoop, other stores), the claim falls back to the warned advisory
# exists()-then-create() path, unchanged.
# SPARK_GRAFT_CONDITIONAL_CREATE: auto (probe, default) | on (skip the
# probe — for stores that support the PUT but don't advertise the
# capability) | off (always advisory fallback).
_COND_CREATE_KEY = "fs.option.create.conditional.overwrite"
_COND_CREATE_PROBED: dict[str, bool] = {}  # resolved scheme -> capability
# substrings identifying "the object already existed" when the
# conditional PUT is rejected: S3A surfaces HTTP 412 as
# RemoteFileChangedException at close() (HADOOP-19256); stores with
# HEAD-based builders raise FileAlreadyExistsException at build().
_COND_EXISTS_SIGNALS = (
    "RemoteFileChangedException",
    "FileAlreadyExists",
    "PreconditionFailed",
    "Status Code: 412",
    "At least one of the pre-conditions",
)


def _conditional_create_mode() -> str:
    return os.environ.get("SPARK_GRAFT_CONDITIONAL_CREATE", "auto").strip().lower()


def _classify_scheme(scheme: str | None) -> str:
    """``local`` (claim via kernel O_EXCL) / ``atomic`` (HDFS-class
    createNewFile) / ``object`` (conditional-create probe, else warned
    advisory). Separate function so tests can route a local tmp dir
    through the object-store branch and exercise the probe/claim
    machinery against a real filesystem."""
    if scheme in (None, "file"):
        return "local"
    if scheme in ATOMIC_CREATE_SCHEMES:
        return "atomic"
    return "object"


def _supports_conditional_create(fs, hpath, scheme: str) -> bool:
    mode = _conditional_create_mode()
    if mode == "off":
        return False
    if mode == "on":
        return True
    if scheme not in _COND_CREATE_PROBED:
        try:
            _COND_CREATE_PROBED[scheme] = bool(
                fs.hasPathCapability(hpath, _COND_CREATE_KEY)
            )
        except Exception:  # noqa: BLE001 — pre-3.3 FS without the probe API
            _COND_CREATE_PROBED[scheme] = False
    return _COND_CREATE_PROBED[scheme]


def _conditional_create_claim(fs, hpath) -> bool | None:
    """Atomic create-if-absent via the createFile() builder.

    ``overwrite(false)`` is the portable create-if-absent INTENT; on a
    filesystem advertising the conditional-create capability (S3A with
    ``fs.s3a.create.conditional.enabled``, Hadoop 3.4.1+/HADOOP-19256)
    the no-overwrite check is enforced by the PUT itself carrying an
    ``If-None-Match`` precondition instead of a HEAD-then-PUT — so the
    claim is atomic: of N racing writers exactly one PUT succeeds, the
    rest fail at close() with the 412 surfaced as
    RemoteFileChangedException/FileAlreadyExistsException. The
    capability probe (not this function) is what decides whether the
    claim deserves to be TREATED as atomic. Returns True (created),
    False (already existed — precondition failed), or None (the
    mechanism itself failed; caller falls back to the advisory path)."""
    try:
        out = fs.createFile(hpath).overwrite(False).build()
        out.close()  # S3A: the conditional PUT happens at close
        return True
    except Exception as exc:  # noqa: BLE001 — py4j wraps the Java error
        msg = str(exc)
        if any(sig in msg for sig in _COND_EXISTS_SIGNALS):
            return False
        return None


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def join_path(root: str, *parts: str) -> str:
    """URI-safe path join: works for both plain POSIX roots and
    scheme-qualified roots (``file://``, ``hdfs://``, ``s3a://``,
    ``viewfs://``) — ``os.path.join`` is wrong for the latter on
    Windows-style separators and never right for URIs."""
    out = root.rstrip("/")
    for p in parts:
        out += "/" + p.strip("/")
    return out


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, hpath = _fs_and_path(spark, path)
    fs.mkdirs(hpath)


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst`` on any scheme. Refuses an existing
    destination FIRST: Hadoop's ``rename(src, existing_dir)`` silently
    moves src INTO the directory (POSIX ``mv`` semantics) — the exact
    corruption a swap pattern must never produce. Raises on failure
    (Hadoop signals failure by returning false, not raising)."""
    fs, hsrc = _fs_and_path(spark, src)
    _, hdst = _fs_and_path(spark, dst)
    if fs.exists(hdst):
        raise RuntimeError(f"rename destination already exists: {dst}")
    if not fs.rename(hsrc, hdst):
        raise RuntimeError(f"rename failed: {src} -> {dst}")


def create_new_file(spark: SparkSession, path: str) -> bool:
    """Atomic create-if-absent: True if this caller created the file,
    False if it already existed. See :func:`create_new_file_ex` for the
    claim-strength contract."""
    return create_new_file_ex(spark, path)[0]


def create_new_file_ex(spark: SparkSession, path: str) -> tuple[bool, str]:
    """Create-if-absent with an explicit claim-strength verdict:
    ``(claimed, kind)`` where kind is ``"atomic"`` (kernel O_EXCL /
    namenode createNewFile / conditional-create PUT) or ``"advisory"``
    (exists()-then-create — two racers can both "win").

    Scheme dispatch matters here (r10 review finding): Hadoop's
    ``FileSystem.createNewFile`` is exists()-then-create() on
    LocalFileSystem — and the local create TRUNCATES on a lost race —
    so the pre-port ``O_EXCL`` cross-process guarantee would silently
    become advisory on local disks. Paths that RESOLVE to the local
    scheme (including through a viewfs mount) therefore claim with
    ``os.O_EXCL`` (kernel-atomic); HDFS-class schemes use
    ``createNewFile`` (namenode-atomic). Object stores (VERDICT r11
    #1): probe for Hadoop 3.4.1+ conditional-create support
    (HADOOP-19256 — the PUT carries ``If-None-Match``, a public S3
    feature since Nov 2024) and claim through the createFile() builder
    when advertised — a REAL atomic create-if-absent, no warning;
    absent the capability, fall back to the warned advisory
    ``createNewFile`` path (one-time RuntimeWarning per scheme,
    ADVICE r10)."""
    fs, hpath = _fs_and_path(spark, path)
    parent = hpath.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    try:
        # resolve through mounts (viewfs) via the existing parent; the
        # lock file itself does not exist yet
        resolved_parent = fs.resolvePath(parent).toUri()
    except Exception:  # noqa: BLE001 — FS without resolvePath support
        resolved_parent = fs.makeQualified(parent).toUri()
    scheme = resolved_parent.getScheme()
    kind = _classify_scheme(scheme)
    if kind == "local":
        local = os.path.join(resolved_parent.getPath(), hpath.getName())
        try:
            os.close(os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            return True, "atomic"
        except FileExistsError:
            return False, "atomic"
    if kind == "atomic":
        return bool(fs.createNewFile(hpath)), "atomic"
    # object store: conditional create when the capability is advertised
    # (or forced on via SPARK_GRAFT_CONDITIONAL_CREATE=on)
    if _supports_conditional_create(fs, hpath, scheme):
        got = _conditional_create_claim(fs, hpath)
        if got is not None:
            return got, "atomic"
        # the mechanism failed despite the probe (capability advertised
        # but the builder path errored) — degrade to advisory, loudly
    if scheme not in _WARNED_SCHEMES:
        # one-time runtime signal (ADVICE r10, medium): on this store
        # the claim below is exists()-then-create(), so the single-writer
        # fence is advisory — say so loudly ONCE instead of letting two
        # "winning" writers discover it via silent lost updates.
        _WARNED_SCHEMES.add(scheme)
        warnings.warn(
            f"filesystem scheme {scheme!r} has no atomic create-if-absent "
            f"(no conditional-create capability {_COND_CREATE_KEY!r}): "
            f"single-writer fences on it are ADVISORY (check-then-act). "
            f"Serialize writers externally, upgrade to a Hadoop 3.4.1+ "
            f"store with conditional writes, or keep mutation roots on an "
            f"HDFS-class filesystem. (Reads are unaffected: readers "
            f"resolve committed versions and never take the fence.)",
            RuntimeWarning,
            stacklevel=2,
        )
    return bool(fs.createNewFile(hpath)), "advisory"


def _holder_age_s(holder: str) -> float | None:
    """Age of a fence holder stamp (``pid=N token=T at=ISO``) in
    seconds, None when the stamp is unreadable/not-yet-written. Live
    holders refresh the stamp on a heartbeat (see path_fence), so age
    here means "seconds since the holder last proved it was alive",
    not "seconds since acquisition"."""
    m = re.search(r"at=(\S+)", holder)
    if not m:
        return None
    try:
        then = datetime.fromisoformat(m.group(1))
    except ValueError:
        return None
    return (datetime.now(timezone.utc).replace(tzinfo=None) - then).total_seconds()


# Heartbeat cadence for HELD fences (ADVICE r11, medium): a live holder
# legitimately exceeding a waiter's stale TTL (a long rebuild) used to
# be indistinguishable from a crashed one. Holders now re-stamp the
# lockfile every HEARTBEAT_S while they hold it, so "stamp age" measures
# liveness, not hold duration — takeover can only fire on a holder
# whose heartbeats have STOPPED. Waiters enforce a takeover floor of
# 3x the heartbeat so a TTL tuned for fast catalog swaps can never
# outrun a single missed beat. 0 disables (then size TTLs past the
# longest legitimate hold, the pre-r12 contract).
def _heartbeat_s() -> float:
    return float(os.environ.get("SPARK_GRAFT_FENCE_HEARTBEAT_S", "15"))


@contextmanager
def path_fence(
    spark: SparkSession,
    lock_path: str,
    wait_s: float = 0.0,
    poll_s: float = 0.25,
    error: type[Exception] = RuntimeError,
    what: str = "path",
    stale_ttl_s: float | None = None,
):
    """Single-writer fence on any Hadoop scheme — the catalog's O_EXCL
    lockfile generalized (VERDICT r9 #1): ``createNewFile`` is the
    atomic claim, holder info (pid + timestamp) is written after the
    claim so a crashed holder is diagnosable. ``wait_s=0`` raises
    ``error`` immediately on contention; ``wait_s>0`` sleep-polls (never
    busy-waits) up to the bound, then raises — the error includes the
    lock's AGE so a crashed holder is distinguishable from a live one
    at a glance (ADVICE r10). Lock released on exit, success or failure.

    ``stale_ttl_s`` (opt-in; default from env
    ``SPARK_GRAFT_FENCE_STALE_TTL_S``) enables crashed-holder takeover:
    a lock whose holder stamp is older than the TTL is deleted and
    re-claimed through the normal atomic claim (with a warning).
    Takeover is for CRASHED holders, not contention. Three guards make
    it safe(r) than the bare delete+create it was in r11 (ADVICE r11,
    medium):

    - **Heartbeat**: holders re-stamp the lock every
      ``SPARK_GRAFT_FENCE_HEARTBEAT_S`` (15s default) while they hold
      it, so a LIVE holder's stamp age never approaches any sane TTL —
      a long rebuild can no longer be "taken over" mid-mutation just
      because one global TTL was sized for 2-second catalog swaps.
    - **Takeover floor**: the effective takeover threshold is
      ``max(stale_ttl_s, 3x heartbeat)``, so a TTL mis-sized below the
      heartbeat can never fire on a single missed beat.
    - **Claim-token verify**: every claim stamps a unique token and a
      taker re-reads the lock after stamping — if a different token
      appears (two waiters crossed the TTL together and both "won" the
      non-CAS delete+create on an advisory scheme), the loser raises
      instead of proceeding into a double-write. On conditional-create
      stores (see :func:`create_new_file_ex`) the re-claim is atomic
      and the verify is belt-and-braces; on advisory schemes the same
      verify also runs for NORMAL claims, shrinking (not closing — the
      documented caveat stands) the double-writer window.

    Without a TTL a crashed holder blocks writers until an operator
    removes the lockfile — the conservative default."""
    if stale_ttl_s is None:
        env = os.environ.get("SPARK_GRAFT_FENCE_STALE_TTL_S")
        stale_ttl_s = float(env) if env else None
    hb_s = _heartbeat_s()
    takeover_after = (
        max(stale_ttl_s, 3.0 * hb_s) if (stale_ttl_s is not None and hb_s > 0)
        else stale_ttl_s
    )
    deadline = time.monotonic() + max(0.0, wait_s)
    token = f"{os.getpid()}-{uuid.uuid4().hex[:12]}"
    stamp_kind = "atomic"

    def claim() -> bool:
        nonlocal stamp_kind
        with _CLAIM_MUTEX:  # thread-atomic; see module note
            got, stamp_kind = create_new_file_ex(spark, lock_path)
            return got

    def stamp() -> None:
        now = datetime.now(timezone.utc).replace(tzinfo=None).isoformat()
        save_info(spark, lock_path, f"pid={os.getpid()} token={token} at={now}")

    def read_holder() -> tuple[str, float | None]:
        try:
            h = read_info(spark, lock_path).strip()
        except Exception:  # noqa: BLE001 — holder info is best-effort
            h = "<unreadable>"
        age = _holder_age_s(h)
        if age is None:
            # stamp-less lock: the holder crashed BETWEEN the atomic
            # claim and writing its pid/timestamp stamp — exactly the
            # crash class the TTL exists for (r11 review), so fall back
            # to the lockfile's own modification time for the age
            # (heartbeat re-stamps refresh the mtime too, so a live
            # holder mid-rewrite still reads as fresh)
            try:
                fs, hpath = _fs_and_path(spark, lock_path)
                mtime_ms = fs.getFileStatus(hpath).getModificationTime()
                age = max(0.0, time.time() - mtime_ms / 1000.0)
            except Exception:  # noqa: BLE001 — lock vanished mid-probe
                age = None
        return h, age

    took_over = False
    while not claim():
        if takeover_after is not None:
            holder, age = read_holder()
            if age is not None and age > takeover_after:
                warnings.warn(
                    f"fence takeover on {what}: lock {lock_path} held by "
                    f"{holder} is {age:.0f}s old (> stale threshold "
                    f"{takeover_after:.0f}s with no heartbeat) — assuming a "
                    f"crashed holder and re-claiming.",
                    RuntimeWarning,
                    stacklevel=2,
                )
                took_over = True
                delete_path(spark, lock_path, recursive=False)
                continue  # back to the atomic claim — only one taker wins it
        if time.monotonic() < deadline:
            time.sleep(poll_s)
            continue
        holder, age = read_holder()
        age_txt = f"{age:.0f}s old" if age is not None else "age unknown"
        raise error(
            f"concurrent update on {what}: lock {lock_path} ({age_txt}) is "
            f"held by {holder}. This resource is single-writer by contract; "
            f"retry with a bounded wait or, if the holder crashed, "
            f"remove the lockfile (or set SPARK_GRAFT_FENCE_STALE_TTL_S "
            f"for automatic stale-lock takeover)."
        )
    try:  # we own the lock; stamping it is best-effort on atomic schemes
        stamp()
        stamped = True
    except Exception:  # noqa: BLE001
        stamped = False
    if (took_over or stamp_kind == "advisory") and stamped:
        # post-claim verify (ADVICE r11): on a non-CAS claim path, make
        # sure OUR stamp is the one that landed — a competing taker (or
        # a racing advisory claimer) that stamped after us owns the
        # fence; proceeding would interleave two writers' commits. The
        # loser backs off WITHOUT deleting the winner's lock.
        try:
            holder = read_info(spark, lock_path).strip()
        except Exception:  # noqa: BLE001 — unreadable ⇒ assume lost
            holder = "<unreadable>"
        if f"token={token}" not in holder:
            raise error(
                f"fence claim on {what} lost a post-claim verify: lock "
                f"{lock_path} is stamped by {holder}, not this claimant — "
                f"a concurrent taker won the non-atomic re-claim. Backing "
                f"off without touching the winner's lock."
            )
    hb_stop = threading.Event()
    hb_thread: threading.Thread | None = None
    if hb_s > 0 and stamped:

        def beat() -> None:
            # r13 (ADVICE r12, medium): re-stamp ONLY while the lock
            # still carries our token. A resumed holder that was taken
            # over after a long GC/VM pause must not overwrite the
            # taker's stamp (that would silently admit a third writer
            # at the next TTL) — it flags lost ownership and stops.
            while not hb_stop.wait(hb_s):
                try:
                    holder = read_info(spark, lock_path).strip()
                    if f"token={token}" not in holder:
                        warnings.warn(
                            f"fence heartbeat on {what}: lock {lock_path} "
                            f"is now stamped by {holder}, not this holder "
                            f"— ownership was taken over (paused holder?). "
                            f"Stopping the heartbeat; this writer's commit "
                            f"should be treated as fenced off.",
                            RuntimeWarning,
                        )
                        return
                    stamp()
                except Exception:  # noqa: BLE001 — missed beat, not fatal
                    pass

        hb_thread = threading.Thread(
            target=beat, name=f"fence-heartbeat:{what}", daemon=True
        )
        hb_thread.start()
    try:
        yield
    finally:
        if hb_thread is not None:
            hb_stop.set()
            hb_thread.join(timeout=5.0)

        def _delete_if_ours() -> None:
            # r13 (ADVICE r12): token-guarded release — after a TTL
            # takeover the lock belongs to the taker; deleting it here
            # would admit a third writer. A lock we never stamped
            # (atomic claim, stamp failed) is still ours to delete.
            if stamped:
                try:
                    holder = read_info(spark, lock_path).strip()
                except Exception:  # noqa: BLE001 — absent/unreadable
                    holder = None
                if holder is not None and f"token={token}" not in holder:
                    return
            try:
                delete_path(spark, lock_path, recursive=False)
            except Exception:  # noqa: BLE001
                pass

        _delete_if_ours()
        if hb_thread is not None and hb_thread.is_alive():
            # a beat was in flight past the 5s join window: it may have
            # re-created the lockfile AFTER the delete above, leaving a
            # phantom lock that blocks all future writers when no TTL
            # is set (ADVICE r12). Wait the beat out and sweep again.
            hb_thread.join(timeout=hb_s + 5.0)
            _delete_if_ours()


def _recursive_file_stats(spark: SparkSession, path: str) -> tuple[int, int, set[str]]:
    """One recursive ``listFiles`` pass: (total bytes, parquet file
    count, parquet-holding leaf dirs) — the shared walker behind the
    sizing and fragmentation views (scheme-agnostic; an os.walk here
    would pin maintenance to the driver's local disk)."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return 0, 0, set()
    total = n_parquet = 0
    dirs: set[str] = set()
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        status = it.next()
        total += int(status.getLen())
        if status.getPath().getName().endswith(".parquet"):
            n_parquet += 1
            dirs.add(status.getPath().getParent().toString())
    return total, n_parquet, dirs


def dir_bytes_and_files(spark: SparkSession, path: str) -> tuple[int, int]:
    """(total bytes, parquet file count) under ``path`` — the sizing
    input for compaction planning."""
    total, n_parquet, _ = _recursive_file_stats(spark, path)
    return total, n_parquet


def swap_dir(
    spark: SparkSession, tmp: str, path: str, bak: str, allow_missing_old: bool = False
) -> None:
    """The atomic cutover shared by every maintenance rewrite: move the
    live dir to ``bak``, the freshly-written ``tmp`` into place, then
    drop ``bak``. Scheme-agnostic; each rename is atomic on the
    filesystems that have atomic rename (local, HDFS).
    ``allow_missing_old`` handles first-write call sites (catalog
    overwrite of a not-yet-created table, first geometry write)."""
    had_old = exists(spark, path) if allow_missing_old else True
    if had_old:
        rename(spark, path, bak)
    rename(spark, tmp, path)
    if had_old:
        delete_path(spark, bak)


# ---------------------------------------------------------------------------
# Versioned directories (VERDICT r10 #1): wait-free reads on ANY scheme.
#
# The delete-then-rename swap (swap_dir) is atomic per rename on
# local/HDFS, but (a) it has a window where the live path does not
# exist — a concurrent reader gets FileNotFound — and (b) on object
# stores rename is copy+delete, widening that window to seconds. The
# versioned layout removes the window structurally: data lives in
# monotonically numbered subdirs (``v000000/``, ``v000001/``, …) and a
# version becomes CURRENT when its commit marker (``_v000001.commit``)
# appears — one small-file create, the closest thing every filesystem
# (including S3) has to an atomic publish. Readers list the dir once,
# pick the highest committed version, and read files that writers never
# delete until a NEWER version has committed (keep_previous grace) —
# so a read that resolved just before a swap still completes. Writers
# never rename over live data and never leave a moment with no
# committed version.
#
# S3A semantics of the marker write: a PUT of a new key is atomic in
# visibility (S3 is strongly read-after-write consistent since 2020),
# so readers see either no marker or the whole marker — the commit
# itself is safe on object stores. What stays advisory on S3A is the
# WRITER fence (no atomic create-if-absent, see create_new_file): two
# concurrent writers can both commit, in which case the higher version
# number wins and the loser's version is retired at the next commit —
# lost update, loud in version history, never a torn read.
#
# Legacy layout (pre-r11 data directly in ``path``): resolve falls back
# to ``path`` itself when no committed version exists; the first
# versioned commit keeps the legacy files as the grace "previous
# version" and the second commit retires them (migration needs no
# offline step).
# ---------------------------------------------------------------------------

_VERSION_RE = re.compile(r"^v(\d{6})$")
_COMMIT_RE = re.compile(r"^_v(\d{6})\.commit$")
_SUPERSEDED_RE = re.compile(r"^_v(\d{6})\.superseded$")
_RESERVE_RE = re.compile(r"^\.v(\d{6})\.reserve$")
_LEGACY_TOMBSTONE = "_legacy.superseded"


def _is_layout_marker(name: str) -> bool:
    """Names that belong to the versioned-dir machinery itself (commit
    markers, supersession tombstones, reservation claims) — never data,
    never legacy content."""
    return bool(
        _COMMIT_RE.match(name)
        or _SUPERSEDED_RE.match(name)
        or _RESERVE_RE.match(name)
        or name == _LEGACY_TOMBSTONE
    )


# In-flight writer grace for debris sweeping (r12, found by the
# advisory-mode soak test): "uncommitted version dir below the new
# commit" is crash debris ONLY under the fence. On an advisory scheme a
# concurrent writer's in-progress dir looks identical — sweeping it
# mid-write destroys a live Spark job's output (and a marker landing
# after the sweep would commit a deleted dir: silent loss). Writers
# therefore claim their version number with a dot-prefixed RESERVE file
# (atomic create wherever the fence is atomic, incl. conditional-create
# stores); a dir whose reserve is younger than this grace is treated as
# in-flight, not debris. Crash debris (reserve gone stale, or no
# reserve at all — pre-r12 layouts) sweeps as before.
def _inflight_grace_s() -> float:
    env = os.environ.get("SPARK_GRAFT_INFLIGHT_GRACE_S")
    return max(0.0, float(env)) if env not in (None, "") else 3600.0

# Time-based version retirement (VERDICT r11 #2 — the Iceberg-style
# guarantee): a superseded version is retired only when BOTH beyond the
# keep_previous grace count AND superseded longer ago than the TTL, so
# a scan that resolved any live version gets at least TTL seconds to
# finish regardless of how fast mutations land. The TTL EXTENDS
# retention, never shortens it — keep_previous is still the floor, and
# TTL=0 reproduces the count-only r11 behavior exactly (the test
# suite's deterministic mode). "Superseded" is measured from the commit
# time of the next version above (marker mtime), not from the
# version's own creation: a version can be CURRENT for hours, and a
# reader that resolved it a second before the swap deserves the full
# window. Steady-state disk bound: live copies per versioned dir
# <= keep_previous + ceil(mutation_rate x TTL) + 1; at the catalog's
# metadata scale that is noise, and index-data mutations (rebuild/
# compact/scrub cadence: hours) keep <= 2 corpus-sized copies.
DEFAULT_VERSION_TTL_S = 3600.0


def version_ttl_s(ttl_s: float | None = None) -> float:
    """Resolve the retention TTL: explicit arg > env
    ``SPARK_GRAFT_VERSION_TTL_S`` > the generous default (1h)."""
    if ttl_s is not None:
        return max(0.0, float(ttl_s))
    env = os.environ.get("SPARK_GRAFT_VERSION_TTL_S")
    return max(0.0, float(env)) if env not in (None, "") else DEFAULT_VERSION_TTL_S


def version_dir(path: str, n: int) -> str:
    return join_path(path, f"v{n:06d}")


def committed_versions(spark: SparkSession, path: str) -> list[int]:
    """Sorted committed version numbers under ``path`` (marker AND data
    dir both present — a marker whose dir was half-retired is ignored,
    a dir without a marker is an uncommitted writer/debris)."""
    names = {e["name"] for e in list_path(spark, path)}
    out = []
    for name in names:
        m = _COMMIT_RE.match(name)
        if m and f"v{int(m.group(1)):06d}" in names:
            out.append(int(m.group(1)))
    return sorted(out)


def resolve_data_dir(spark: SparkSession, path: str) -> str:
    """Where the CURRENT data of ``path`` lives: the highest committed
    version dir, or ``path`` itself for legacy/empty layouts. One
    listing, no exceptions — the wait-free read entry point."""
    vs = committed_versions(spark, path)
    return version_dir(path, vs[-1]) if vs else path


def begin_version(spark: SparkSession, path: str) -> tuple[int, str]:
    """Reserve the next version number: max over every version dir,
    marker, or reservation present + 1, CLAIMED via an atomic
    create-if-absent of ``.vNNNNNN.reserve`` (r12) — so two writers
    racing past an advisory fence get DIFFERENT numbers instead of
    writing into the same dir and destroying each other's output
    (atomic wherever create is: local/HDFS/conditional-create stores;
    best-effort on the rest, same as the fence). The reserve also tells
    debris sweeping the dir is in-flight (see _inflight_grace_s); it is
    cleaned up once the version commits or retires. The dir itself is
    not created here — the caller's write job creates it."""
    nums = [-1]
    for e in list_path(spark, path):
        m = (
            _VERSION_RE.match(e["name"])
            or _COMMIT_RE.match(e["name"])
            or _RESERVE_RE.match(e["name"])
        )
        if m:
            nums.append(int(m.group(1)))
    n = max(nums) + 1
    for _ in range(64):
        if create_new_file(spark, join_path(path, f".v{n:06d}.reserve")):
            return n, version_dir(path, n)
        n += 1
    raise RuntimeError(
        f"could not reserve a version number under {path} after 64 attempts "
        f"— writers are racing far beyond the advisory-fence design point"
    )


def commit_version(
    spark: SparkSession,
    path: str,
    n: int,
    keep_previous: int = 1,
    ttl_s: float | None = None,
    note: str | None = None,
) -> None:
    """Publish version ``n`` (write its commit marker) and retire what
    the grace window no longer needs: committed versions below ``n``
    beyond the newest ``keep_previous`` AND superseded longer ago than
    the retention TTL (see ``version_ttl_s`` — r12; TTL=0 restores the
    count-only r11 behavior), uncommitted debris dirs below ``n``
    (crashed writers — safe to drop, the caller holds the fence), and
    legacy root files once ``keep_previous`` committed versions already
    stand below ``n`` (until then the legacy files ARE the grace copy)
    and the first committed version is older than the TTL. Markers are
    deleted before their dirs so a reader listing mid-retire never
    resolves to a half-deleted version. ``note`` is appended to the
    commit marker stamp (e.g. a conflict-merge audit line — the catalog
    reconciliation writes ``merged=[...]`` so a two-writer commit race
    is loud in version history)."""
    stamp = (
        f"pid={os.getpid()} "
        f"at={datetime.now(timezone.utc).replace(tzinfo=None).isoformat()}"
    )
    if note:
        stamp += f" {note}"
    save_info(spark, join_path(path, f"_v{n:06d}.commit"), stamp)
    entries = list_path(spark, path)
    committed = {
        int(m.group(1)): e["mtime_s"]
        for e in entries
        if (m := _COMMIT_RE.match(e["name"]))
    }
    committed.setdefault(n, time.time())  # our own marker, just written
    committed_below = sorted(v for v in committed if v < n)
    keep = set(committed_below[-keep_previous:]) if keep_previous else set()
    ttl = version_ttl_s(ttl_s)
    if ttl > 0 and committed_below:
        now = time.time()
        for v in committed_below:
            if v in keep:
                continue
            # superseded when the NEXT committed version above it landed;
            # retired markers only leave LATER ones behind, so min-above
            # can only overestimate the protection window (safe).
            above = [committed[k] for k in committed if k > v]
            if above and now - min(above) <= ttl:
                keep.add(v)
    # pass 1: stale markers (so no version is ever committed-but-gone)
    for e in entries:
        m = _COMMIT_RE.match(e["name"])
        if m and int(m.group(1)) < n and int(m.group(1)) not in keep:
            delete_path(spark, join_path(path, e["name"]), recursive=False)
    # pass 2: stale/debris version dirs, then legacy root entries.
    # An UNCOMMITTED dir below n is crash debris only if no in-flight
    # reservation protects it (r12; see _inflight_grace_s) — on advisory
    # schemes a concurrent writer may still be writing it.
    legacy_retirable = len(committed_below) >= keep_previous
    if legacy_retirable and ttl > 0 and committed:
        # the legacy files were superseded when the FIRST version
        # committed; the oldest surviving marker bounds that from above
        legacy_retirable = time.time() - min(committed.values()) > ttl
    now = time.time()
    grace_s = _inflight_grace_s()
    reserves = {
        int(m.group(1)): e["mtime_s"]
        for e in entries
        if (m := _RESERVE_RE.match(e["name"]))
    }
    retired: set[int] = set()
    for e in entries:
        m = _VERSION_RE.match(e["name"])
        if m:
            k = int(m.group(1))
            if k < n and k not in keep:
                if (
                    k not in committed
                    and k in reserves
                    and now - reserves[k] <= grace_s
                ):
                    continue  # in-flight writer, not crash debris (r12)
                delete_path(spark, join_path(path, e["name"]))
                retired.add(k)
        elif not _is_layout_marker(e["name"]) and legacy_retirable:
            delete_path(spark, join_path(path, e["name"]))
    # reservation cleanup: a reserve's job ends once its version has a
    # marker (the number can never be reused) or its dir was retired
    for k in reserves:
        if k in committed or k in retired:
            delete_path(spark, join_path(path, f".v{k:06d}.reserve"), recursive=False)


def leaf_dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(leaf partition directories, parquet data files) under ``path``
    — the fragmentation view for index/catalog maintenance cadence."""
    _, n_parquet, dirs = _recursive_file_stats(spark, path)
    return len(dirs), n_parquet


def save_info(spark: SparkSession, full_path: str, data: str) -> None:
    """S11 (s3.rb:60-78): write a small artifact (job log, marker) to any
    scheme the Hadoop conf resolves. Parent dirs are created implicitly."""
    save_bytes(spark, full_path, data.encode("utf-8"))


def save_bytes(spark: SparkSession, full_path: str, data: bytes) -> None:
    """Write a small binary artifact through the Hadoop FS stream (any
    scheme, parents created implicitly) — the driver-side fast path for
    metadata-sized files where a Spark write job would be all overhead
    (e.g. the catalog's single-row parquet appends)."""
    fs, hpath = _fs_and_path(spark, full_path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def read_bytes(spark: SparkSession, full_path: str) -> bytes:
    """Read a small artifact whole through the Hadoop FS stream (any
    scheme) — the read twin of :func:`save_bytes` (e.g. the catalog's
    metadata-sized parquet files)."""
    fs, hpath = _fs_and_path(spark, full_path)
    stream = fs.open(hpath)
    try:
        return bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def read_info(spark: SparkSession, full_path: str) -> str:
    return read_bytes(spark, full_path).decode("utf-8")


def list_path(spark: SparkSession, path: str) -> list[dict]:
    """S12 (s3.rb:38-48): one-level listing — files and "common prefixes"
    (subdirectories), like a delimiter='/' object-store listing."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    for status in fs.listStatus(hpath):
        out.append(
            {
                "name": status.getPath().getName(),
                "is_dir": bool(status.isDirectory()),
                "size": int(status.getLen()),
                "mtime_s": status.getModificationTime() / 1000.0,
            }
        )
    return sorted(out, key=lambda d: d["name"])


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs_and_path(spark, path)
    return bool(fs.exists(hpath))


def delete_path(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Remove a path (any scheme). Used to clear partial output before a
    transient-failure retry; returns False if the path did not exist."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return False
    return bool(fs.delete(hpath, recursive))
