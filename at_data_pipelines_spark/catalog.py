"""Lakehouse table layer — Spark-native rebuild of the reference's bear-lake
protocol (SURVEY §0, §2.1 S1-S4).

Observable reference API (all call sites under /root/reference):

- ``bl.connect_s3(path, ...) -> Database``      (pipelines/clients/bear_lake.py:25-26)
- ``db.create(name, schema, partition_keys, primary_keys, mode)``
                                                 (pipelines/stock_prices_flow.py:99-115)
- ``db.insert(name, data, mode='append')``       (pipelines/stock_prices_flow.py:118)
- ``db.optimize(name)`` — dedup by primary keys  (pipelines/stock_prices_flow.py:121)
- ``bl.table(name)`` lazy scan → ``db.query(expr)`` collect
                                                 (pipelines/utils/data.py:12-17)

Spark-first restatement:

- A table is a directory of hive-partitioned parquet plus a small JSON
  metadata file (declared schema, partition keys, primary keys, ingest
  sequence, dirty partitions, and the COMMIT MANIFEST — see below).
- ``insert`` appends a new ``_seq=K`` batch directory.
- ``optimize`` completes the upsert: keep the latest row per primary key
  (``row_number() OVER (PARTITION BY pk ORDER BY _seq DESC) = 1``), the
  same rewrite Delta's MERGE would do.
- ``table`` returns a plain DataFrame; every downstream op is lazy, so
  Catalyst pushes filters/projections into the scan and prunes hive
  partitions (the reference's partition_keys=['year'] layout).

Commit protocol (object-store safe — the Iceberg/Delta snapshot idea
restated in a plain hive layout):

- The data directory is APPEND-ONLY: every write — insert batch,
  compaction output, delete rewrite — lands in a brand-new
  ``data/_seq=K/...`` directory. Nothing is ever renamed or overwritten,
  so the non-atomic copy+delete semantics of object-store renames never
  apply: there are no renames.
- Visibility is defined SOLELY by the meta JSON: ``live_deltas`` (insert
  batches not yet compacted) plus ``committed`` (per-partition pointers
  ``rel → seq`` naming the compacted generation each partition reads
  from; key ``""`` is the whole-table base of an unpartitioned table).
  Readers enumerate exactly those paths — an in-flight or crashed
  write's directory is unreachable because no manifest names it.
- The commit point of every operation is the single ``_commit_meta`` PUT,
  made atomic PER SCHEME: on file/HDFS it is a temp-file write followed
  by an atomic ``rename()`` swap (a bare create+overwrite there is
  truncate-then-write and a concurrent reader could see an empty
  manifest — r7's one defect); on S3 an object PUT is already
  all-or-nothing. A reader therefore resolves the old manifest or the
  new one, never a half-swapped mixture, and a bounded re-read in
  ``_read_meta_raw`` absorbs torn reads on filesystems with neither
  guarantee. Crash before it: readers keep the old state
  bit-for-bit; the half-written ``_seq=K`` directory is orphaned and
  reclaimed by ``vacuum()`` (retries also clear their own target dir
  first, so a crashed attempt can never leak rows into a later one).
- CONCURRENT WRITERS (r7, hardened r8): generation numbers are uniquely
  reserved by exclusive-create claim files under ``_claims/``
  (``_reserve_seq``; exclusive-create is POSIX ``O_CREAT|O_EXCL`` on
  file:// — Hadoop's local ``create(overwrite=false)`` is check-then-act
  and NOT atomic), so no two writers ever share — or clear — the same
  ``_seq=K`` directory. Every manifest carries a ``version`` stamp
  bumped by each commit; ``_commit_meta`` serializes its re-read →
  validate → PUT section under a short leased per-table commit lock
  (without it, two writers can both pass the version check and the
  second PUT silently drops the first commit — observed ~1 run in 10
  by the two-thread race test), re-reads the version inside it, and
  on a moved version REBASES provably-disjoint commits (appends always
  commute; optimize/upsert/delete_where rebase iff every base
  partition pointer, the pending-delta list, and the dirty set they
  read are untouched — the op supplies the closure via
  ``_make_rebase``). Conflicting commits raise ``ConcurrentWriteError``
  instead of silently dropping either writer; the loser's generation is
  an orphan for ``vacuum()`` (whose grace window spares in-flight
  writers), and retrying from a fresh ``_load_meta`` succeeds. An
  attempt-token check remains as defense in depth against external
  directory interference.

100 TB scale notes:

- ``optimize`` only rewrites **dirty partitions** (partition values touched
  by inserts since the last optimize) — compaction cost is proportional
  to the day's ingest, not table size. This mirrors the reference's
  usage: daily flows insert a single year partition, so only that
  partition pays the dedup shuffle.
- The PK dedup is a hash shuffle on the primary key — at cluster scale the
  natural layout is files bucketed by PK hash; here we rely on AQE to size
  the shuffle.
- Reads list one committed path per partition plus one per live delta —
  O(partitions) LIST calls, issued by Spark's parallel file listing. The
  compaction that keeps ``live_deltas`` short is the same one that keeps
  file counts low, so the two costs amortize together.
- No driver-side materialization anywhere; creates write empty dataframes,
  reads use the declared schema (robust to empty tables).
"""

from __future__ import annotations

import json
import random
import re
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field, fields as dataclass_fields

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

_META_FILE = "_bl_meta.json"
_SEQ_COL = "_seq"


class _FastPathUnsuitable(RuntimeError):
    """Internal: the driver-side small-commit path hit a conversion or
    layout it doesn't handle; the caller falls back to the distributed
    insert+optimize path (nothing was committed)."""


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's manifest load and its
    commit PUT. The losing writer's generation directory is orphaned
    (vacuumable); nothing it wrote became visible. Retry the whole
    operation from a fresh ``_load_meta``."""


class LegacyLayoutError(RuntimeError):
    """The table's metadata predates the manifest commit protocol (data laid
    out directly under hive partition dirs, no ``_seq=K`` generations).
    Reading it through the manifest would silently return 0 rows, so we
    refuse instead: re-create the table and re-insert, or rewrite the old
    parquet into a ``_seq=0`` generation and add the manifest fields.
    Also raised when a manifest carries a deletion-vector sidecar entry
    in a retired (pre-``_DV_SIDECAR_FORMAT``) layout, a dirty partition
    recorded as a value tuple instead of a partition path, or CHECK
    constraints (no longer enforced, so never silently dropped)."""


class SnapshotExpiredError(RuntimeError):
    """A time-travel read (``table(name, version=N)`` / ``restore``) named a
    manifest version whose data generations have been reclaimed — the
    version is older than the table's ``retain_versions`` window, or the
    table was created without retention. The manifest history itself is
    kept forever (audit log); only the data expires."""


def _boto3_conditional_create_factory():
    """A conditional-create hook for s3a:// roots built on boto3's
    public ``PutObject`` + ``If-None-Match: *`` (S3 returns 412 when the
    object already exists — an atomic server-side CAS, closing the
    HEAD-then-PUT residual race the Hadoop FS API cannot). Returns None
    when boto3 is unavailable (the documented Hadoop-only fallback);
    credentials resolve through boto3's standard chain, which matches
    the instance-profile/env setups S3A itself typically uses."""
    try:
        import boto3
        from botocore.exceptions import ClientError
    except Exception:
        return None
    client = {}

    def hook(p: str, data: bytes = b"") -> bool:
        rest = p.split("://", 1)[1]
        bucket, _, key = rest.partition("/")
        if "c" not in client:  # one client per hook, built lazily
            client["c"] = boto3.client("s3")
        try:
            # Body carries the caller's payload — the commit lock stores
            # its holder token here, and release only deletes while the
            # lock still reads back as OUR token. An empty body (the r8
            # shape) made that check never match: every commit leaked
            # its lock and the next writer waited out the full lease.
            client["c"].put_object(
                Bucket=bucket, Key=key, Body=data, IfNoneMatch="*"
            )
            return True
        except ClientError as e:
            code = str(e.response.get("Error", {}).get("Code", ""))
            status = e.response.get("ResponseMetadata", {}).get("HTTPStatusCode")
            if code == "PreconditionFailed" or status == 412:
                return False
            # S3 answers a conditional PUT racing ANOTHER in-flight
            # conditional write on the same key with 409
            # ConditionalRequestConflict (documented; AWS says retry).
            # Either writer may in fact have won, but treating it as
            # 'lost the claim' is always SAFE here: claims are one-shot
            # sequence/lock probes, and a false loss only costs probing
            # the next number / another wait round — never a shared seq.
            if code == "ConditionalRequestConflict" or status == 409:
                return False
            raise

    return hook


def _boto3_delete_if_older_factory():
    """An atomic stale-object eviction hook for s3a:// roots:
    ``hook(path, cutoff_ms) -> bool`` deletes the object iff it was last
    written before ``cutoff_ms`` (epoch millis, store clock), keyed on
    the ETag observed by the same HEAD that read the timestamp — a
    DeleteObject with ``If-Match`` is a server-side CAS, so a lock
    re-acquired between our HEAD and our DELETE survives (412 → False).
    Stores that reject If-Match on delete fall back to an unconditional
    delete right after the HEAD — one round-trip of residual exposure,
    the same class as the documented HEAD-then-PUT claim fallback.
    Returns None when boto3 is unavailable."""
    try:
        import boto3
        from botocore.exceptions import ClientError
    except Exception:
        return None
    try:
        from botocore.exceptions import ParamValidationError
    except Exception:  # pragma: no cover - ancient botocore

        class ParamValidationError(Exception):
            pass

    client = {}

    def hook(p: str, cutoff_ms: int) -> bool:
        rest = p.split("://", 1)[1]
        bucket, _, key = rest.partition("/")
        if "c" not in client:
            client["c"] = boto3.client("s3")
        try:
            head = client["c"].head_object(Bucket=bucket, Key=key)
        except ClientError as e:
            status = e.response.get("ResponseMetadata", {}).get("HTTPStatusCode")
            code = str(e.response.get("Error", {}).get("Code", ""))
            if status == 404 or code in ("404", "NoSuchKey", "NotFound"):
                return False  # already gone
            raise
        if int(head["LastModified"].timestamp() * 1000) >= cutoff_ms:
            return False  # fresh: a live holder (re-)acquired it
        try:
            client["c"].delete_object(
                Bucket=bucket, Key=key, IfMatch=str(head["ETag"]).strip('"')
            )
            return True
        except ClientError as e:
            code = str(e.response.get("Error", {}).get("Code", ""))
            status = e.response.get("ResponseMetadata", {}).get("HTTPStatusCode")
            if code in ("PreconditionFailed", "ConditionalRequestConflict") or (
                status in (412, 409)
            ):
                return False  # replaced since the HEAD: not ours to evict
            if code in ("NotImplemented", "InvalidRequest") or status == 501:
                client["c"].delete_object(Bucket=bucket, Key=key)
                return True
            raise
        except (ParamValidationError, TypeError):
            # CLIENT-side rejection: botocore versions predating S3
            # conditional deletes refuse the IfMatch kwarg before any
            # request is sent (ParamValidationError; very old SDKs raise
            # TypeError). It is not a ClientError, so without this arm
            # it would escape _break_stale_lock and make a crashed
            # holder's lock unbreakable. Same unconditional-delete
            # fallback as the server-side NotImplemented case — one
            # round-trip of residual exposure.
            client["c"].delete_object(Bucket=bucket, Key=key)
            return True

    return hook


class _HadoopFS:
    """Filesystem operations through the JVM Hadoop FileSystem API, so the
    lakehouse's metadata reads/writes and partition swaps run against ANY
    Hadoop FS URI (file://, hdfs://, s3a://) — not just the local OS
    filesystem. This is the same FS abstraction Spark's own writers use,
    resolved from the session's hadoopConfiguration (credentials,
    endpoints and committers configured there apply here too).

    Atomicity note: the lakehouse never renames DATA — its commit
    protocol is append-only generation directories plus a single metadata
    PUT (see module docstring) — so the copy+delete semantics of
    object-store renames never touch table contents. The metadata PUT
    itself is scheme-aware (``write_text_atomic``): on S3 a plain
    overwrite PUT is already all-or-nothing, but on file:// and HDFS a
    Hadoop ``create(overwrite=true)`` is truncate-then-write — a
    concurrent reader between create and close sees a ZERO-LENGTH
    manifest. There the PUT is temp-file + ``rename()`` over the target,
    which POSIX ``rename(2)`` / HDFS ``rename2`` make an atomic swap.
    Renaming the one tiny metadata file on exactly the schemes where
    rename IS atomic does not reintroduce the object-store rename hazard
    the data path avoids.
    """

    def __init__(self, spark: SparkSession, root: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._IOUtils = jvm.org.apache.commons.io.IOUtils
        self._fs = self._Path(root).getFileSystem(spark._jsc.hadoopConfiguration())
        self._conf = spark._jsc.hadoopConfiguration()
        self._quri: dict[str, str] = {}
        self.scheme = self._Path(root).toUri().getScheme() or "file"
        if self.scheme == "s3a":
            hook = _boto3_conditional_create_factory()
            if hook is not None:
                self.conditional_create_hook = hook
            dhook = _boto3_delete_if_older_factory()
            if dhook is not None:
                self.delete_if_older_hook = dhook

    def exists(self, p: str) -> bool:
        if self.scheme == "file":
            # os-level probe (r16): exists() sits on the manifest-load
            # and pruned-read hot paths (per-rel live-delta probes) —
            # one JVM round-trip each adds up at 64+ rels per scan
            import os

            return os.path.exists(self._local_path(p))
        return self._fs.exists(self._Path(p))

    def qualified_uri(self, p: str) -> str:
        """The exact URI string Spark's ``_metadata.file_path`` column
        reports for ``p``. Qualification runs the same Hadoop
        ``FileSystem.makeQualified`` chain Spark's file index uses;
        the RENDERING is then rebuilt from the URI's parts — scheme +
        raw (percent-encoded) path, with '//authority' only when the
        authority is non-empty — because the off-the-shelf renderings
        both disagree with the metadata column on local paths:
        ``Path.toString()`` DECODES the path ('p=a b') and
        ``toUri().toString()`` renders the LocalFileSystem's empty
        authority as 'file:///' where metadata reports 'file:/'.
        Verified byte-identical to ``_metadata.file_path`` across
        space/%/+/unicode partition values (and pinned by the DV range
        tests, whose leaf canary turns any future drift into a loud
        error). Memoized: one JVM roundtrip per distinct path for the
        lifetime of this FS handle (the DV range scan resolves its
        table's data dir through here on every plan build)."""
        hit = self._quri.get(p)
        if hit is None:
            u = self._fs.makeQualified(self._Path(p)).toUri()
            scheme, auth, raw = u.getScheme(), u.getAuthority(), u.getRawPath()
            if auth:
                hit = f"{scheme}://{auth}{raw}"
            else:
                hit = f"{scheme}:{raw}" if scheme else raw
            self._quri[p] = hit
        return hit

    def mkdirs(self, p: str) -> None:
        if self.scheme == "file":
            # os-level mkdir (r16): the arrow fast-insert path calls
            # this once per partition leaf — profiled at ~4 ms/call
            # through py4j, ~60% of a 128-leaf fast insert's wall. A
            # file in the way falls through so the error shape stays
            # Hadoop's.
            import os

            try:
                os.makedirs(self._local_path(p), exist_ok=True)
                return
            except (FileExistsError, NotADirectoryError):
                pass
        self._fs.mkdirs(self._Path(p))

    def delete(self, p: str) -> None:
        self._fs.delete(self._Path(p), True)

    def list_subdirs(self, p: str) -> list[str]:
        if self.scheme == "file":
            import os

            try:
                with os.scandir(self._local_path(p)) as it:
                    return [e.name for e in it if e.is_dir()]
            except (FileNotFoundError, NotADirectoryError):
                return []
        if not self.exists(p):
            return []
        return [
            st.getPath().getName()
            for st in self._fs.listStatus(self._Path(p))
            if st.isDirectory()
        ]

    def glob_dir_leaves(self, pattern: str, depth: int) -> list[str]:
        """Directories matching a glob, returned as the trailing ``depth``
        path components (e.g. ``year=2021`` or ``year=2021/month=3``) —
        component-based, so no scheme/prefix string surgery on URIs."""
        out = []
        for st in self._fs.globStatus(self._Path(pattern)) or []:
            if not st.isDirectory():
                continue
            parts, node = [], st.getPath()
            for _ in range(depth):
                parts.append(node.getName())
                node = node.getParent()
            out.append("/".join(reversed(parts)))
        return out

    def read_text(self, p: str) -> str:
        return self.read_bytes(p).decode("utf-8")

    def write_text(self, p: str, text: str) -> None:
        self.write_bytes(p, text.encode("utf-8"))

    def read_bytes(self, p: str) -> bytes:
        if self.scheme == "file":
            # os-level read: the py4j byte bridge moves ~18 MB/s, which
            # turned a 51 MB checkpoint GET into ~2.8 s of pure transfer
            # (SCALING.md cold-parse rung); skipping Hadoop's local
            # checksum verification is benign — same bytes, and the
            # atomic-write path already manages the .crc sidecars
            try:
                with open(self._local_path(p), "rb") as f:
                    return f.read()
            except IsADirectoryError:
                pass  # fall through to the Hadoop reader's error shape
        stream = self._fs.open(self._Path(p))
        try:
            return bytes(self._IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def write_bytes(self, p: str, data: bytes) -> None:
        if self.scheme == "file":
            # os-level write (the py4j byte bridge costs ~2.8 s per 51 MB
            # — see read_bytes). Any .crc left by an earlier JVM-side
            # write must go, or a later Hadoop read pairs the new bytes
            # with the old checksum and fails verification.
            import os

            lp = self._local_path(p)
            os.makedirs(os.path.dirname(lp), exist_ok=True)
            crc = os.path.join(
                os.path.dirname(lp), f".{os.path.basename(lp)}.crc"
            )
            try:
                os.remove(crc)
            except FileNotFoundError:
                pass  # racing writer already cleaned it — Hadoop's
                # delete(path) was equally tolerant of a missing target
            with open(lp, "wb") as f:
                f.write(data)
            return
        stream = self._fs.create(self._Path(p), True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def write_text_atomic(self, p: str, text: str) -> None:
        self.write_bytes_atomic(p, text.encode("utf-8"))

    def write_bytes_atomic(self, p: str, data: bytes) -> None:
        """All-or-nothing replace of ``p``: a concurrent reader observes
        either the old bytes or the new bytes, never a truncated file.

        - ``file://``: write a temp file with plain OS I/O (no ``.crc``
          sidecar — a checksum sidecar would swap non-atomically alongside
          the data) and ``os.replace()`` it over the target — POSIX
          ``rename(2)``, an atomic replace.
          Any stale ``.crc`` left by the pre-atomic overwrite path is
          deleted BEFORE the swap, so no reader ever pairs new bytes with
          an old checksum (absent sidecar ⇒ readers skip verification).
        - ``hdfs://``/``viewfs://``: temp file + ``FileContext.rename``
          with ``Options.Rename.OVERWRITE`` (HDFS ``rename2`` — atomic).
        - anything else (s3a://, ...): a plain overwrite PUT, which on
          object stores already replaces the object atomically.
        """
        if self.scheme == "file":
            # pure-OS temp-write + rename(2): same atomic-replace contract
            # as the previous raw-Hadoop-fs implementation, minus the
            # py4j byte bridge (~2.8 s per 51 MB checkpoint) and the
            # per-call JVM round-trips that taxed every tiny segment PUT
            import os

            lp = self._local_path(p)
            parent = os.path.dirname(lp)
            os.makedirs(parent, exist_ok=True)
            tmp = f"{lp}.tmp-{uuid.uuid4().hex}"
            try:
                with open(tmp, "wb") as f:
                    f.write(data)
                crc = os.path.join(parent, f".{os.path.basename(lp)}.crc")
                try:
                    os.remove(crc)
                except FileNotFoundError:
                    pass  # racing writer already cleaned it
                os.replace(tmp, lp)
            except BaseException:
                try:
                    os.remove(tmp)
                except OSError:
                    pass
                raise
        elif self.scheme in ("hdfs", "viewfs"):
            tmp = f"{p}.tmp-{uuid.uuid4().hex}"
            self.write_bytes(tmp, data)
            try:
                fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                    self._Path(p).toUri(), self._conf
                )
                overwrite = getattr(
                    self._jvm.org.apache.hadoop.fs.Options, "Rename"
                ).OVERWRITE
                fc.rename(self._Path(tmp), self._Path(p), overwrite)
            except Exception:
                # last resort: plain truncate-and-write (the r7 shape).
                # NOT delete-then-rename — a deleted manifest window makes
                # the table look nonexistent (exists() false, a concurrent
                # create(mode='skip') would truncate it) and a crash
                # between delete and rename loses the manifest outright.
                # The truncate window's torn-JSON read IS absorbed by
                # _read_json_retry's bounded retry.
                self._fs.delete(self._Path(tmp), False)
                self.write_bytes(p, data)
        else:
            self.write_bytes(p, data)

    def list_files(self, p: str) -> list[tuple[str, int]]:
        """(name, size) of plain files directly under ``p`` (no recursion).
        file:// short-circuits through os.scandir — this sits on the
        manifest-load hot path (the per-load ``_log/`` probe), where two
        JVM roundtrips per call would tax every commit."""
        if self.scheme == "file":
            import os

            try:
                with os.scandir(self._local_path(p)) as it:
                    return [
                        (e.name, e.stat().st_size) for e in it if e.is_file()
                    ]
            except (FileNotFoundError, NotADirectoryError):
                return []
        if not self.exists(p):
            return []
        return [
            (st.getPath().getName(), st.getLen())
            for st in self._fs.listStatus(self._Path(p))
            if st.isFile()
        ]

    def list_dir(self, p: str) -> tuple[list[str], bool]:
        """(plain-file names directly under ``p``, whether ``p`` has any
        subdirectory) in ONE listing call — the deletion-vector file
        split (_read_raw) needs both facts per masked directory and must
        not pay two object-store LISTs for them. A missing/fileless path
        reads as ([], False); the caller treats anything other than
        "files only" as unsplittable and keeps the directory whole."""
        if self.scheme == "file":
            import os

            try:
                with os.scandir(self._local_path(p)) as it:
                    names, has_sub = [], False
                    for e in it:
                        if e.is_dir():
                            has_sub = True
                        elif e.is_file():
                            names.append(e.name)
                    return names, has_sub
            except (FileNotFoundError, NotADirectoryError):
                return [], False
        # ONE listStatus, catching the missing-path error instead of a
        # prior exists() probe — the review found the exists() call paid
        # exactly the doubled object-store round trip this method's
        # contract promises to avoid
        try:
            statuses = self._fs.listStatus(self._Path(p))
        except Exception as e:  # py4j wraps FileNotFoundException
            if "FileNotFoundException" in str(
                getattr(e, "java_exception", e)
            ) or "FileNotFoundException" in str(e):
                return [], False
            raise
        p_norm = self._Path(p).toUri().getPath()
        names, has_sub = [], False
        for st in statuses:
            if st.isDirectory():
                has_sub = True
            elif st.isFile():
                # listStatus(FILE) returns the file's own status, not a
                # child — match the local branch's NotADirectoryError
                # contract ([], False) instead of fabricating a one-file
                # directory whose "child" path would not exist
                if st.getPath().toUri().getPath() == p_norm:
                    return [], False
                names.append(st.getPath().getName())
        return names, has_sub

    def mtime(self, p: str) -> int:
        """Modification time of ``p`` in epoch millis (0 if absent — also
        when ``p`` vanishes between the existence check and the stat, as
        a contended lock file routinely does)."""
        if self.scheme == "file":
            import os

            try:
                return int(os.stat(self._local_path(p)).st_mtime * 1000)
            except FileNotFoundError:
                return 0
        if not self.exists(p):
            return 0
        try:
            return int(self._fs.getFileStatus(self._Path(p)).getModificationTime())
        except Exception:
            if self.exists(p):
                raise
            return 0

    def max_mtime(self, p: str) -> int:
        """Newest modification time (epoch ms) among ``p`` AND every file
        under it. Object-store Hadoop connectors (S3A, ...) report
        synthetic/zero mtimes for DIRECTORIES, so a dir-only stat would
        silently disable any mtime-based grace guard there — the files
        inside carry the real write times."""
        best = self.mtime(p)
        if not self.exists(p):
            return best
        try:
            it = self._fs.listFiles(self._Path(p), True)
            while it.hasNext():
                best = max(best, int(it.next().getModificationTime()))
        except Exception:
            if self.exists(p):
                raise
        return best

    def _local_path(self, p: str) -> str:
        """OS path of ``p`` — only meaningful when scheme == 'file'.

        A plain path (no scheme prefix) IS its own OS path — returned
        as-is with zero JVM traffic (r16: the Hadoop
        ``Path(p).toUri().getPath()`` round-trip cost ~0.7 ms per
        call and sat under EVERY file-scheme fast path — write_bytes,
        list_dir, list_files — taxing the arrow fast-insert and
        manifest hot loops; profiled at ~10% of a 128-leaf fast
        insert). URI-form inputs (``file:...`` or any ``://``) keep
        the Hadoop parse so decoding/normalization semantics stay
        byte-identical where they could matter."""
        if not p.startswith("file:") and "://" not in p:
            return p
        return self._Path(p).toUri().getPath()

    # Pluggable atomic conditional-create for schemes where the Hadoop FS
    # API cannot express one (S3A): ``hook(path_uri, data) -> bool``
    # creates the object WITH ``data`` as its body iff absent and returns
    # True iff THIS caller created it — False only on a genuine
    # precondition failure (someone else holds it). S3 supports this
    # publicly via `PutObject` + `If-None-Match: *` (412 on conflict);
    # ``_boto3_conditional_create`` wires it through boto3 and is
    # installed automatically for s3a:// roots when boto3 imports.
    # Without a hook, S3A claims fall back to HEAD-then-PUT — the
    # documented residual one-round-trip race every Hadoop-FS commit
    # protocol carries. Instance attributes so tests (and deployments
    # with bespoke stores) can inject their own. ``delete_if_older_hook
    # (path_uri, cutoff_ms) -> bool`` is the eviction counterpart: delete
    # iff the object predates ``cutoff_ms``, atomically (ETag CAS on S3).
    conditional_create_hook = None
    delete_if_older_hook = None

    def create_exclusive(self, p: str, data: bytes = b"") -> bool:
        """Create ``p`` (with optional ``data`` as its content, written
        under the same exclusive handle) only if it does not exist; True
        iff this caller won. On file:// this uses POSIX
        ``open(O_CREAT|O_EXCL)`` — a true
        atomic claim (Hadoop's RawLocalFileSystem ``create(overwrite=
        false)`` is exists-check-then-FileOutputStream, i.e. check-then-
        act: two local threads could both 'win' it). On HDFS the
        namenode arbitrates ``create(overwrite=false)`` atomically. On
        S3A a registered ``conditional_create_hook`` (If-None-Match PUT)
        makes the claim a true CAS; without one it degrades to
        HEAD-then-PUT — same residual window every Hadoop-FS-based
        commit protocol carries, shrunk from job-length to one
        round-trip. A create failure only means 'lost the claim' when
        the path actually exists — transient IO errors (credentials,
        throttling) re-raise instead of masquerading as contention."""
        if self.conditional_create_hook is not None and self.scheme != "file":
            return bool(self.conditional_create_hook(p, data))
        if self.scheme == "file":
            import os

            try:
                fd = os.open(
                    self._local_path(p), os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
            except FileExistsError:
                return False
            try:
                if data:
                    os.write(fd, data)
            finally:
                os.close(fd)
            return True
        try:
            out = self._fs.create(self._Path(p), False)
            try:
                if data:
                    out.write(bytearray(data))
            finally:
                out.close()
            return True
        except Exception:
            if self.exists(p):
                return False
            raise

    def link_exact(self, src: str, dst: str) -> bool:
        """Materialize ``dst`` as ``src``'s content WITHOUT overwriting an
        existing ``dst``; False when ``dst`` exists or ``src`` vanished.
        file:// uses ``os.link`` (atomic, EEXIST-arbitrated by the
        kernel); other schemes fall back to Hadoop rename, which refuses
        an existing destination on HDFS."""
        if self.scheme == "file":
            import os

            try:
                os.link(self._local_path(src), self._local_path(dst))
                return True
            except (FileExistsError, FileNotFoundError):
                return False
        try:
            return bool(self._fs.rename(self._Path(src), self._Path(dst)))
        except Exception:
            return False

    def rename_exact(self, src: str, dst: str) -> bool:
        """Atomic ``src -> dst`` move; False iff ``src`` no longer exists
        (someone else moved it first — the arbitration a lock-breaker
        relies on). file:// uses POSIX rename(2) directly."""
        if self.scheme == "file":
            import os

            try:
                os.rename(self._local_path(src), self._local_path(dst))
                return True
            except FileNotFoundError:
                return False
        try:
            return bool(self._fs.rename(self._Path(src), self._Path(dst)))
        except Exception:
            return not self.exists(src)


# Hive's default set of characters escaped in partition directory names
# (mirrors Spark's ExternalCatalogUtils.escapePathName, so rel strings
# built from collected values match the directories Spark writes)
_HIVE_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^')


def _escape_partition_value(v) -> str:
    # Spark writes the default-partition sentinel for null AND empty string
    # (ExternalCatalogUtils.getPartitionPathString)
    if v is None or v == "":
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    return _escape_path_name(str(v))


def _escape_path_name(s: str) -> str:
    return "".join(
        "%%%02X" % ord(ch) if ch in _HIVE_ESCAPE or ord(ch) < 0x20 else ch for ch in s
    )


def _hive_rel(keys: list[str], vals) -> str:
    """``year=2024`` / ``year=2024/month=3`` — the hive directory path of
    one partition value tuple. Key names are escaped too, as Spark's
    ``getPartitionPathString`` does, so a rel built here equals the
    directory a Spark write creates for the same partition."""
    return "/".join(
        f"{_escape_path_name(k)}={_escape_partition_value(v)}"
        for k, v in zip(keys, vals)
    )


def _sql_ident(name: str) -> str:
    """Spark SQL quoted identifier: a literal backtick is doubled."""
    return "`" + name.replace("`", "``") + "`"


def _col(name: str) -> "F.Column":
    """Column by its exact name: quoted, so a backtick or dot inside a
    user column name is not parsed as SQL."""
    return F.col(_sql_ident(name))


def _uri_unquote(s: str) -> str:
    """Strip the URI percent-encoding layer off a path derived from
    ``_metadata.file_path`` (r13 review find — a verified wrong answer):
    Spark reports file paths as URIs, so an on-disk (hive-escaped) dir
    name like ``part=a b`` reads back as ``part=a%20b``. Deletion-vector
    JOIN keys live entirely in the encoded namespace (both sides derive
    from ``_metadata``) and are untouched; but every comparison against
    the RAW namespace — manifest ``committed`` rels, fs listings,
    scan-pruning rel sets — must decode first or a vector-carrying
    partition whose value needs encoding silently routes to the
    unmasked/clean side and deleted rows resurface. Percent-decoding is
    total and exact on encoder output (UTF-8 %XX only; '+' is NOT a
    form-encoded space in URIs, and urllib's unquote leaves it alone).
    A raw name's OWN literal '%' arrives here double-encoded (%25), so
    decoding returns the hive-escaped on-disk name, never over-decodes."""
    from urllib.parse import unquote

    return unquote(s)


#: zone-key suffix marking a PARTITIONED generation whose per-file
#: inventory is COMPLETE across every leaf (r16): the key
#: ``_seq=K/__inv__`` (value {}) is written only when
#: ``_collect_file_inventory`` skipped no leaf, and is what lets the
#: DV file split expand a whole live-delta GENERATION dir into its
#: leaves' files manifest-only — without it, a skipped leaf's files
#: would silently vanish from the expansion. Inert everywhere else:
#: it has no '.parquet' suffix (never a file key), '__inv__' contains
#: no '=' (never a hive leaf, so scan()'s glob-driven lookups can't
#: hit it), and _prune_zone_maps parses its _seq head like any key.
_INV_COMPLETE = "__inv__"


def _zone_key_file(zk: str) -> "tuple[str, str] | None":
    """Split a zone-map key into ``(leaf, filename)`` when it names a
    PER-FILE entry, else None. The '.parquet' suffix alone is NOT
    enough (r15 advice find — a verified wrong answer): a LEAF key for
    a hostile partition VALUE ending '.parquet' (``part=x.parquet``,
    recorded by plain inserts on stats/bloom tables) matches the
    suffix too, and treating it as per-file handed the DV split a
    bogus inventory for the bare ``_seq=K`` dir — the partition SUBDIR
    routed as a 'file' to the clean branch (deleted rows resurfaced)
    and sibling partitions were dropped from the read entirely. The
    disambiguator is structural: hive leaf segments ALWAYS contain '='
    (``key=value``, with '=' in the value escaped to %3D by
    ``_escape_partition_value``), while Spark part filenames
    (``part-00000-<uuid>...parquet``) NEVER do."""
    if not zk.endswith(".parquet"):
        return None
    leaf, _, fn = zk.rpartition("/")
    if not leaf or "=" in fn:
        return None
    return leaf, fn


def _stat_encode(v):
    """JSON-safe, ORDER-PRESERVING encoding of a zone-map stat value.
    Numbers/strings/bools pass through; date/timestamp become ISO strings
    (lexicographic order == temporal order; tz-aware values normalize to
    UTC-naive, matching the UTC session the engine runs under). Returns
    None for values no sound ordering can be JSON-roundtripped for (NaN,
    exotic types) — the caller then records no stat, which only costs
    prunability, never correctness."""
    import datetime as dt
    import math

    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, (int, str)):
        return v
    return None


_DATE_SHAPE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_DATETIME_SHAPE = re.compile(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?$")


#: Bloom-skipping value domain: column types whose Spark
#: CAST(col AS STRING) rendering provably equals the driver-side
#: rendering in _bloom_value_str — the write-side (JVM md5 of the cast
#: string) and scan-side (Python md5) positions must agree bit-for-bit
#: or pruning would be unsound. Floats/timestamps/booleans render
#: differently between the engines and are refused at create().
_BLOOM_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.StringType,
    T.DateType,
)
_BLOOM_DEFAULT_M = 4096  # 512 B/leaf/col in the manifest at full density
_BLOOM_DEFAULT_K = 5
_BLOOM_SALT = "blz"
_BLOOM_DEFAULT_FPP = 0.01  # auto-size target false-positive rate per leaf
# auto-size lattice top: m grows by powers of 2 from bloom.m_bits up to
# 64x (default 4096 -> 262144 bits = 32 KB/leaf/col worst-case dense) — a
# deliberate manifest-size bound; a leaf denser than the cap accommodates
# degrades FPR gracefully instead of bloating every manifest load
_BLOOM_AUTO_CAP_MULT = 64
# BANKED repair past the m-cap (r13 — the r12 verdict's task #3): a leaf
# denser than the lattice top splits its values across up to this many
# independent cap-sized banks by a value hash (bank = H_b mod B, B a
# power of 2 so the Spark job can fold a fixed mod-32 assignment down to
# any chosen B exactly, the same trick the word fold-down uses). Each
# value lives in EXACTLY one bank and the probe checks only its own
# bank, so per-value FPR is the per-bank FPR — the filter keeps ~target
# fpp to 32x past the cap instead of silently degrading toward 100%.
# Manifest bound: only leaves that NEED banks pay for them (worst case
# 32 x 32 KB = 1 MB/leaf/col at default sizing, vs the old behavior of
# a useless 32 KB filter); past 32 banks the degradation resumes and
# _bloom_saturation flags it.
_BLOOM_MAX_BANKS = 32


def _bloom_bank_of(sval: str, banks: int) -> int:
    """Bank assignment of one rendered value — md5 of (value, salt, 'b')
    mod banks, the same 48-bit hash family as the positions but with a
    non-numeric index token so it is independent of every position hash.
    Equals the Spark job's (H mod _BLOOM_MAX_BANKS) mod B fold for every
    power-of-two B <= _BLOOM_MAX_BANKS."""
    import hashlib

    return (
        int(
            hashlib.md5(f"{sval}{_BLOOM_SALT}b".encode()).hexdigest()[:12], 16
        )
        % banks
    )


def _bloom_auto_banks(n_values: int, m_cap: int, k: int, fpp: float) -> int:
    """Bank count for one leaf: 1 while the capped filter meets the fpp
    target, else the smallest power of 2 whose combined capacity
    (banks * m_cap bits) does, capped at _BLOOM_MAX_BANKS. Mirrors the
    Spark job's when-chain comparison-for-comparison (need <= cap*B)."""
    if n_values <= 0:
        return 1
    c = _bloom_fpp_denominator(k, fpp)
    if c <= 0.0:
        return _BLOOM_MAX_BANKS
    need = k * n_values / c
    if need <= m_cap:
        return 1
    b = 2
    while b < _BLOOM_MAX_BANKS and m_cap * b < need:
        b *= 2
    return b


def _bloom_fpp_denominator(k: int, fpp: float) -> float:
    """The constant C in the auto-size bound m >= k·n / C, C =
    -ln(1 - fpp^(1/k)). Returns 0.0 when fpp is so extreme that
    fpp^(1/k) underflows below one double ulp (C would be -ln(1) = 0 and
    the division would crash): callers treat C == 0 as "need is
    infinite" and take the lattice cap."""
    import math

    return -math.log(1.0 - fpp ** (1.0 / k))


def _bloom_auto_m(n_values: int, m_base: int, k: int, fpp: float) -> int:
    """Per-leaf filter width: smallest m in the lattice {m_base * 2^i,
    0 <= 2^i <= _BLOOM_AUTO_CAP_MULT} whose predicted FPR at ``n_values``
    keys stays <= ``fpp``: (1 - e^(-k n/m))^k <= fpp  <=>
    m >= k*n / -ln(1 - fpp^(1/k)). The lattice (not arbitrary m) is what
    makes the Spark-job fold-down exact: positions are H mod m, and
    (H mod cap) mod m == H mod m whenever m divides cap."""
    if n_values <= 0:
        return m_base
    c = _bloom_fpp_denominator(k, fpp)
    if c <= 0.0:  # fpp underflowed: no finite m meets it — take the cap
        return m_base * _BLOOM_AUTO_CAP_MULT
    need = k * n_values / c
    m = m_base
    while m < need and m < m_base * _BLOOM_AUTO_CAP_MULT:
        m *= 2
    return m


def _signed_words(words: dict[str, int]) -> dict[str, int]:
    """Normalize word values to signed 64-bit — the JVM bit_or's output
    domain — so driver- and job-written entries stay bit-identical. The
    ONE place this expression lives; both write paths call it."""
    return {
        w: (b - (1 << 64) if b >= (1 << 63) else b) for w, b in words.items()
    }


def _dv_encode(positions) -> list:
    """Deletion-vector codec, encode half: sorted unique row positions →
    ``[count, base64(delta-varint)]``. Delta-varint because deletes
    cluster (a predicate usually hits contiguous row ranges): ~1 byte
    per position for runs, ≤3 bytes for random positions in a
    10M-row file — ~30-100× smaller than a JSON int list, keeping the
    vectors cheap to carry inline in every manifest/checkpoint/archive."""
    import base64

    out = bytearray()
    prev = -1
    uniq = sorted(set(positions))
    for p in uniq:
        d = p - prev  # >= 1 by construction
        prev = p
        while True:
            b = d & 0x7F
            d >>= 7
            if d:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return [len(uniq), base64.b64encode(bytes(out)).decode()]


def _dv_decode(entry: list) -> list[int]:
    """Inverse of ``_dv_encode``: ``[count, b64]`` → sorted positions."""
    import base64

    data = base64.b64decode(entry[1])
    out: list[int] = []
    cur, shift, prev = 0, 0, -1
    for b in data:
        cur |= (b & 0x7F) << shift
        if b & 0x80:
            shift += 7
        else:
            prev += cur
            out.append(prev)
            cur, shift = 0, 0
    return out


def _runs_of(pos: list[int], cap: int) -> "list[list[int]] | None":
    """Collapse sorted unique positions into inclusive [start, end]
    runs; None once more than ``cap`` runs form (the caller's signal
    that the set is scatter-shaped and the range path doesn't apply)."""
    runs: list[list[int]] = []
    for p in pos:
        if runs and p == runs[-1][1] + 1:
            runs[-1][1] = p
        else:
            if len(runs) >= cap:
                return None
            runs.append([p, p])
    return runs


def _dv_range_groups(items: list, budget: int) -> "list[list]":
    """Chunk URI-sorted ``(uri, path, runs)`` range-scan items into
    dispatch groups bounded by TOTAL predicate size — 2 units per file
    (the URI equality + its when-branch) plus 1 per run (its BETWEEN) —
    so one group's single generated CaseWhen method can never outgrow
    the JVM's compile limits no matter the run mix (r16: the fixed
    32-LEAF chunking it replaces was sized on thin one-run leaves and
    measurably degraded when every leaf carried 16 runs — see
    ``_DV_RANGE_GROUP_UNITS``). Greedy in input (URI-sorted) order,
    preserving each group's sortedness for the binary dispatch tree;
    an item heavier than the budget still gets its own group (the
    per-file weight is bounded by 2 + _DV_RANGE_MAX_RUNS, well under
    any sane budget)."""
    groups: list[list] = []
    cur: list = []
    cost = 0
    for it in items:
        w = 2 + len(it[2])
        if cur and cost + w > budget:
            groups.append(cur)
            cur, cost = [], 0
        cur.append(it)
        cost += w
    if cur:
        groups.append(cur)
    return groups


def _coalesce_runs(runs: list[list[int]]) -> list[list[int]]:
    """Merge ABUTTING runs from different DV entries into maximal ones
    (entries never overlap — (file, position) pairs are unique across
    the tiers, the sidecar-merge canary's invariant — so only adjacency
    needs folding)."""
    out: list[list[int]] = []
    for s, e in sorted(runs):
        if out and s == out[-1][1] + 1:
            out[-1][1] = e
        else:
            out.append([s, e])
    return out


def _bloom_value_str(v) -> str | None:
    """Driver-side rendering of a probe value, matching Spark's
    CAST(col AS STRING) for every type in _BLOOM_TYPES; None = the
    value's type has no provably-identical rendering (don't prune)."""
    import datetime as dt

    if isinstance(v, bool):  # bool is an int subclass — reject first
        return None
    if isinstance(v, (int, str)):
        return str(v)
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        return v.isoformat()
    return None


def _bloom_probe_type_ok(dtype, v) -> bool:
    """True iff a probe value's Python type agrees with the bloom
    column's Spark dtype — the precondition for the probe's rendering to
    equal the write side's CAST(col AS STRING) on every matching row.
    Mismatches (int probe on a string column, string probe on an int
    column, datetime on a date column) must NOT prune: Spark's equality
    would implicit-cast and can still match rows whose rendering
    differs from the probe's (e.g. '05' = 5)."""
    import datetime as dt

    if isinstance(v, bool):
        return False
    if isinstance(dtype, T.StringType):
        return isinstance(v, str)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return isinstance(v, int)
    if isinstance(dtype, T.DateType):
        return isinstance(v, dt.date) and not isinstance(v, dt.datetime)
    return False


def _bloom_probe_positions(sval: str, m_bits: int, k: int) -> list[int]:
    """The k filter positions of one value — the exact Python mirror of
    ops/sketch.py::_bloom_positions (md5 of value||salt||i, first 12 hex
    chars as an int, mod m)."""
    import hashlib

    return [
        int(
            hashlib.md5(f"{sval}{_BLOOM_SALT}{i}".encode()).hexdigest()[:12], 16
        )
        % m_bits
        for i in range(k)
    ]


def _bloom_entry_excludes(stats: dict, eq_positions: dict) -> bool:
    """True iff some column's predicate is PROVABLY unsatisfiable in
    this leaf: the leaf has a bloom entry for the column and EVERY
    probed value (one for equality, several for an IN-list) has at
    least one of its k bits unset. Leaves without an entry (legacy
    generations, all-NULL leaves) never exclude; type-mismatched probes
    never reach here (scan() drops the whole column's probe list)."""
    for c, pos_fns in eq_positions.items():
        ent = stats.get(f"{c}#bloom")
        if not ent:
            continue
        m_bits, k, words = int(ent[0]), int(ent[1]), ent[2]
        # 4th element (r13) = bank count of a BANKED entry (a leaf denser
        # than the m-cap): the probe checks only the value's own bank,
        # whose word keys are offset by bank * m/64 in the same dict
        banks = int(ent[3]) if len(ent) > 3 else 1

        def _absent(positions_for):
            for pos in positions_for(m_bits, k, banks):
                # Python's arbitrary-precision & handles Spark's
                # signed-64 bit_or words: a negative word sign-extends
                # above bit 63, but every mask is a single bit < 2^64,
                # so the test is exact for bits 0..63 either way
                if not int(words.get(str(pos // 64), 0)) & (1 << (pos % 64)):
                    return True
            return False

        if all(_absent(fn) for fn in pos_fns):
            return True
    return False


def _zone_excludes(stats: dict, where: dict) -> bool:
    """True iff the leaf's zone-map stats PROVE no row can satisfy the
    conjunctive range predicate ``{col: (lo, hi)}`` (inclusive, None =
    unbounded). Missing stats never exclude; ``[None, None]`` (leaf has
    no non-null values for the column) always excludes, because a range
    predicate never matches NULL. Non-ASCII strings fall back to
    unprunable — Python's code-point compare and Spark's UTF8 binary
    compare agree on ASCII, and we only prune where they provably agree.
    Mixed temporal encodings (a date's 'YYYY-MM-DD' against a datetime's
    'YYYY-MM-DD HH:MM:SS') also refuse to prune: their lexicographic
    order does NOT match Spark's date→timestamp promotion semantics
    ('2024-01-02' < '2024-01-02 00:00:00' would drop a leaf whose max
    date matches the bound exactly). ``scan()`` coerces bounds to the
    column's encoding first (``_prune_bound``), so well-typed scans keep
    full prunability; this guard is the soundness net for everything
    else."""
    for c, (lo, hi) in where.items():
        if lo is None and hi is None:
            continue  # no constraint on this column: nothing to disprove
        ent = stats.get(c)
        if ent is None:
            continue
        mn, mx = ent
        if mn is None and mx is None:
            return True
        lo_e, hi_e = _stat_encode(lo), _stat_encode(hi)
        strs = [x for x in (mn, mx, lo_e, hi_e) if isinstance(x, str)]
        if any(not s.isascii() for s in strs):
            continue
        shapes = {
            "date" if _DATE_SHAPE.match(s) else "dt" if _DATETIME_SHAPE.match(s) else "other"
            for s in strs
        }
        if "date" in shapes and "dt" in shapes:
            continue  # mixed temporal encodings: lexicographic order unsound
        try:
            if lo_e is not None and mx < lo_e:
                return True
            if hi_e is not None and mn > hi_e:
                return True
        except TypeError:
            continue  # incomparable encodings: don't prune
    return False


#: sentinel: a bound that cannot be soundly compared against this
#: column's stat encoding — the column must not exclude any leaf
_NO_PRUNE = object()


def _prune_bound(dtype, v, side: str):
    """Coerce one scan-predicate bound to the stat-encoding domain of the
    column it constrains, mirroring Spark's comparison semantics:

    - DateType column, naive-datetime bound: Spark promotes the date to
      its midnight timestamp, so date d matches ``d₀ >= lo`` iff
      d >= ceil_date(lo) and ``d₀ <= hi`` iff d <= hi.date() — the bound
      becomes a date with direction-aware rounding.
    - Timestamp column, date bound: the date literal promotes to its
      midnight timestamp.
    - tz-aware datetime against a DateType column: refused (session-tz
      interaction has no tz-independent encoding) — ``_NO_PRUNE``.

    Everything else passes through (same-type compares are already
    order-preserving under ``_stat_encode``)."""
    import datetime as dt

    if v is None:
        return None
    if isinstance(dtype, T.DateType) and isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            return _NO_PRUNE
        if side == "lo":
            return v.date() if v.time() == dt.time(0) else v.date() + dt.timedelta(days=1)
        return v.date()
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
            return dt.datetime.combine(v, dt.time(0))
    return v


def _zorder_ordinal(dtype) -> "F.Column":
    """Order-preserving double-valued expression for a Z-order column:
    numerics cast directly; dates become epoch days, timestamps epoch
    micros (UTC session — ordering is tz-independent either way);
    strings become their first-6-UTF-8-bytes big-endian integer (the
    Delta OPTIMIZE ZORDER truncated-byte move). 6 bytes = 48 bits fits
    a double exactly, and Spark's string order IS unsigned byte order,
    so the ordinal is monotone in the full string. CAVEAT: strings
    sharing a 6-byte prefix collapse to one bucket — clustering (and
    therefore file pruning) only discriminates on the prefix, which is
    the right trade for id-like columns and the documented limitation
    for long-common-prefix keys (put the discriminating part first)."""

    def make(c: str) -> F.Column:
        if isinstance(dtype, T.DateType):
            return F.unix_date(_col(c)).cast("double")
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            return F.unix_micros(_col(c).cast("timestamp")).cast("double")
        if isinstance(dtype, T.StringType):
            hexpfx = F.rpad(
                F.hex(F.substring(F.encode(_col(c), "UTF-8"), 1, 6)), 12, "0"
            )
            return F.conv(hexpfx, 16, 10).cast("double")
        return _col(c).cast("double")

    return make


def _morton_expr(cols: list[tuple["F.Column", float, float]], bits: int = 10):
    """Z-order (Morton) interleave of up to a few columns, given as
    (ordinal double expression, observed lo, observed hi): each value is
    bucketed into 2^bits uniform buckets between its column's observed
    min/max, and the bucket bits are interleaved into one long. Sorting
    by this value gives multi-dimensional locality — rows close in
    EVERY dimension land in the same file, which is what makes per-file
    min/max boxes tight in all dimensions at once (a PK sort only
    tightens the leading column). Pure codegen arithmetic:
    width_bucket + shift/or, no UDF."""
    n = 1 << bits
    total = F.lit(0).cast("long")
    nd = len(cols)
    for ci, (expr, lo, hi) in enumerate(cols):
        if lo is None or hi is None or not float(hi) > float(lo):
            continue  # constant/empty column contributes no bits
        bkt = (
            F.width_bucket(expr, F.lit(float(lo)), F.lit(float(hi)), F.lit(n)) - 1
        )
        bkt = F.greatest(
            F.lit(0).cast("long"),
            F.least(F.coalesce(bkt, F.lit(0)).cast("long"), F.lit(n - 1).cast("long")),
        )
        for i in range(bits):
            bit = F.shiftright(bkt, i).bitwiseAND(F.lit(1))
            total = total.bitwiseOR(F.shiftleft(bit, i * nd + ci))
    return total


def _unescape_partition_value(s: str):
    """Inverse of ``_escape_partition_value`` (Spark's unescapePathName):
    ``None`` for the hive default-partition sentinel, %XX decoded
    otherwise. Values come back as strings — callers cast to the declared
    partition-column type (the same thing Spark's partition discovery
    does when it parses directory names)."""
    if s == "__HIVE_DEFAULT_PARTITION__":
        return None
    return re.sub("%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), s)


@dataclass
class TableMeta:
    name: str
    # fixed at create(): no DDL alters a table's columns during its life,
    # so every version of one table life shares this schema
    schema_json: str
    partition_keys: list[str] = field(default_factory=list)
    primary_keys: list[str] = field(default_factory=list)
    next_seq: int = 0
    # hive rel dirs (``year=2024``) touched by inserts since last optimize
    dirty_partitions: list[str] = field(default_factory=list)
    all_dirty: bool = False
    # optimistic-concurrency stamp: bumped by every manifest commit; a
    # writer whose loaded version no longer matches the on-disk version at
    # commit time lost a race and raises ConcurrentWriteError
    version: int = 0
    # commit manifest: rel partition dir -> _seq generation holding its
    # compacted base ("" = whole-table base of an unpartitioned table)
    committed: dict[str, int] = field(default_factory=dict)
    # insert batches visible but not yet absorbed by a compaction
    live_deltas: list[int] = field(default_factory=list)
    # zone maps: columns whose per-generation-leaf min/max are tracked in
    # the manifest (opt-in at create), and the stats themselves, keyed by
    # the data-relative leaf dir ("_seq=3" or "_seq=3/year=2024") ->
    # {col: [min, max]} over the leaf's non-null values. Generations are
    # immutable, so an entry is valid for the leaf's whole lifetime.
    stats_columns: list[str] = field(default_factory=list)
    zone_maps: dict[str, dict[str, list]] = field(default_factory=dict)
    # Deletion vectors (r11): data-relative FILE path
    # ("_seq=3/year=2024/part-x.parquet") -> [count, b64(delta-varint)]
    # of 0-based row positions DELETED from that file — the Delta/
    # Iceberg v2 metadata-only row delete. Files are immutable, so an
    # entry is valid for the file's whole lifetime; every reader
    # anti-joins them out (_apply_dvs), every rewrite of a partition
    # drops its files' entries (_prune_deletion_vectors)
    deletion_vectors: dict[str, list] = field(default_factory=dict)
    # Deletion-vector SIDECARS (r12): past _DV_INLINE_MAX_POSITIONS the
    # positions move out of the manifest into immutable parquet files
    # under ``<table>/dv/`` (columns f=data-relative file path, p=row
    # position), written and applied EXECUTOR-side — the manifest keeps
    # only pointers: each entry is ``[relpath, count, [seqs...], rels,
    # files, finfo]`` where ``seqs`` are the _seq generations the
    # sidecar's files belong to (the prune key: an entry is droppable
    # once none of its generations is visible; stale rows for files a
    # partial rewrite replaced are harmless — those files are no longer
    # scanned — and only make the counts conservative), ``rels`` (r12)
    # / ``files`` (r13) are the affected partition rels / exact touched
    # files for read-path confinement (None past their caps), and
    # ``finfo`` (r14) maps each touched file to [position count, runs]
    # for the fully-deleted-file proof and the NOT-BETWEEN fast path
    # (see _sidecar_finfo); e[6] is _DV_SIDECAR_FORMAT, the one layout
    # _meta_from_raw accepts. Readers union the sidecars into the same
    # broadcast anti-join as the inline vectors; a capped None field
    # degrades to mask-more.
    dv_sidecars: list[list] = field(default_factory=list)
    # Per-file TOTAL row counts for files carrying deletion vectors
    # (r14): DECODED data-relative file path -> the file's immutable
    # row count, recorded by the vector writer (one zero-column count
    # job over just the files a delete touches). Lets readers PROVE a
    # file is 100%-deleted (cumulative vectored positions == row count)
    # and drop it at LISTING time instead of scanning every row into
    # the anti-join — Delta/Iceberg's "DV cardinality == record count
    # ⇒ prune the file". Counts are facts about immutable files, so
    # entries never change once recorded; bounded by _DV_FILE_ROWS_CAP
    # (files past the cap simply stay unprovable — mask more, never
    # less) and pruned with the vectors (_prune_deletion_vectors).
    dv_file_rows: dict[str, int] = field(default_factory=dict)
    # Bloom data skipping (opt-in at create): columns whose per-leaf
    # membership filter is tracked alongside the zone maps, stored in
    # the SAME zone_maps entry under the reserved key "<col>#bloom" as
    # [m_bits, k, {word: bits}] — equality scans prune leaves whose
    # filter disproves the value (see scan()). Riding in zone_maps means
    # leaf-lifetime pruning, log-segment deltas, archives and the
    # columnar checkpoint all apply unchanged.
    bloom_columns: list[str] = field(default_factory=list)
    # snapshot retention: how many past manifest versions keep their data
    # generations alive (0 = reclaim superseded data eagerly, history is
    # audit-only). Manifest history JSONs are archived regardless — each
    # is a full manifest copy (O(partitions + zone-map entries), i.e.
    # kilobytes typically, more for per-file-stats tables — see
    # SCALING.md "Manifest scale limits"); only DATA expiry is governed
    # by this knob.
    retain_versions: int = 0
    # ANALYZE output (analyze()): row count + per-column null count,
    # min/max, KMV distinct estimate, stamped with the manifest version
    # it was computed against — the CBO-stats slot of the manifest.
    table_stats: dict = field(default_factory=dict)
    # free-form table properties (the Delta TBLPROPERTIES slot): create()
    # records the bloom.* sizing here; committed like any other manifest
    # change.
    properties: dict = field(default_factory=dict)
    # stable identity minted at create(): distinguishes two LIVES of the
    # same table name (drop+recreate, create(replace)) so the log-mode
    # manifest cache can never fold one life's segments onto another
    # life's base ("" on pre-r9 manifests — they predate the cache)
    table_uuid: str = ""

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))


class Lakehouse:
    """A directory-rooted lakehouse database. Every filesystem operation —
    metadata JSON, partition swaps, deletes — goes through the Hadoop
    FileSystem API (``_HadoopFS``), so any Hadoop FS URI (file://,
    hdfs://, s3a://) works, with credentials/committers taken from the
    session's hadoopConfiguration."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.fs = _HadoopFS(spark, self.root)
        self.fs.mkdirs(self.root)
        # per-handle folded-manifest cache for log-mode tables (see
        # _read_meta_raw): name -> the last folded raw manifest dict.
        # Guarded by a lock because handles are shared across threads
        # (folds mutate the cached dict in place).
        self._meta_cache: dict[str, dict] = {}
        self._meta_cache_mu = threading.Lock()
        # tables this handle has seen columnar-checkpoint sidecars for:
        # lets an INLINE save know it must sweep the now-unreferenced
        # sidecars (threshold lowered / table shrank) without paying a
        # LIST on every small-table save.
        self._sidecar_tables: set[str] = set()
        # persisted deletion-vector build sides (r13 — the masked-read
        # build-floor amortization): (name, table_uuid, version) -> a
        # persisted (__dvd_f, __dvd_p, __dvd_rel) DataFrame. Keyed by
        # manifest VERSION, so any commit (which bumps it) naturally
        # invalidates — the next read builds a fresh entry and the old
        # one ages out of the small LRU (unpersisted on eviction).
        # table_uuid in the key stops a drop+recreate from ever reading
        # a dead table life's positions. Guarded by its own lock —
        # handles are shared across writer threads.
        self._dv_cache: dict[tuple, DataFrame] = {}
        self._dv_cache_mu = threading.Lock()
        # reader-plan memo (_plan_memo): content-addressed constructed
        # reader DataFrames — plan objects only, no persisted blocks.
        # Both stores go through _memo's LRU.
        self._plan_cache: dict[tuple, DataFrame] = {}

    # fsspec/Polars-style option names → Hadoop s3a configuration keys
    # (the surface bl.connect_s3(path, storage_options) exposes —
    # reference pipelines/clients/bear_lake.py:25-26)
    _S3_OPTION_KEYS = {
        "aws_access_key_id": "fs.s3a.access.key",
        "key": "fs.s3a.access.key",
        "aws_secret_access_key": "fs.s3a.secret.key",
        "secret": "fs.s3a.secret.key",
        "aws_session_token": "fs.s3a.session.token",
        "token": "fs.s3a.session.token",
        "endpoint_url": "fs.s3a.endpoint",
        "region": "fs.s3a.endpoint.region",
        "aws_region": "fs.s3a.endpoint.region",
        "anon": "fs.s3a.connection.anonymous",
    }

    @classmethod
    def connect_s3(
        cls,
        spark: SparkSession,
        root: str,
        storage_options: dict[str, str] | None = None,
    ) -> "Lakehouse":
        """Reference ``bl.connect_s3(path, storage_options)``: open a
        lakehouse on an object-store root, applying fsspec-style
        credential options to the session's hadoopConfiguration (where
        the s3a connector — and therefore every read, write, and
        partition swap in this class — picks them up). Unrecognized
        option names pass through as ``fs.s3a.<name>`` so any connector
        knob is reachable.

        Options are written under the per-bucket namespace
        (``fs.s3a.bucket.<bucket>.*`` — the s3a connector's documented
        per-bucket override mechanism), so two lakehouses on different
        buckets with different credentials/endpoints coexist in one
        session instead of silently clobbering each other's globals."""
        if not root.startswith(("s3a://", "s3://")):
            raise ValueError(f"connect_s3 expects an s3:// or s3a:// root, got {root!r}")
        root = root.replace("s3://", "s3a://", 1)
        bucket = root[len("s3a://") :].split("/", 1)[0]
        conf = spark._jsc.hadoopConfiguration()
        for k, v in (storage_options or {}).items():
            hk = cls._S3_OPTION_KEYS.get(k, f"fs.s3a.{k}")
            hk = hk.replace("fs.s3a.", f"fs.s3a.bucket.{bucket}.", 1)
            conf.set(hk, str(v).lower() if isinstance(v, bool) else str(v))
        return cls(spark, root)

    # -- metadata ----------------------------------------------------------
    def _dir(self, name: str) -> str:
        return f"{self.root}/{name}"

    def _meta_path(self, name: str) -> str:
        return f"{self._dir(name)}/{_META_FILE}"

    def _read_json_retry(self, p: str) -> dict:
        """Read+parse one metadata JSON, absorbing transient torn reads.

        Metadata PUTs are atomic swaps on file/hdfs/s3a
        (``write_bytes_atomic``), so a torn read should be impossible
        there — this bounded retry is defense in depth for tables written
        by pre-atomic versions of this engine and for exotic filesystems
        where neither rename nor PUT is atomic: an empty/truncated JSON
        body or a checksum-sidecar mismatch is treated as an in-flight
        swap and re-read, never surfaced as ``JSONDecodeError``. Missing
        files and real IO errors raise immediately."""
        last: Exception | None = None
        for attempt in range(8):
            try:
                return json.loads(self.fs.read_text(p))
            except ValueError as e:  # torn/empty JSON body
                last = e
            except Exception as e:
                if "ChecksumException" not in str(e):
                    raise
                last = e  # new bytes paired with a stale .crc mid-swap
            time.sleep(0.005 * (attempt + 1))
        raise last

    # -- segmented manifest log (r8) ---------------------------------------
    # Above this many (committed + zone_maps) entries, each commit appends
    # a small DIFF SEGMENT to _log/ instead of rewriting the full manifest
    # (measured: the full-rewrite shape costs ~16 MB + 0.3 s ser/de per
    # commit at 100k partitions, 156 MB + ~9 s at 1M — see SCALING.md).
    # A full checkpoint (the ordinary _bl_meta.json) is rewritten every
    # _LOG_CHECKPOINT_EVERY segments and doubles as the time-travel
    # archive anchor. Below the threshold, commits are exactly the r7
    # single-PUT — the log machinery is never touched.
    _LOG_SEGMENT_THRESHOLD = 20_000
    _LOG_CHECKPOINT_EVERY = 20

    def _log_dir(self, name: str) -> str:
        return f"{self._dir(name)}/_log"

    def _log_segments(self, name: str) -> list[int]:
        return sorted(
            int(n[1:-5])
            for n, _ in self.fs.list_files(self._log_dir(name))
            if n.startswith("v") and n.endswith(".json")
        )

    # Segments already folded into a checkpoint are RELOCATED here (not
    # deleted — they reconstruct mid-segment versions for time travel),
    # so the ``_log/`` LIST every manifest load pays stays O(checkpoint
    # window), never O(total commits). This directory is listed only by
    # time-travel/history calls.
    def _archived_seg_dir(self, name: str) -> str:
        return f"{self._history_dir(name)}/segments"

    def _archived_segments(self, name: str) -> list[int]:
        return sorted(
            int(n[1:-5])
            for n, _ in self.fs.list_files(self._archived_seg_dir(name))
            if n.startswith("v") and n.endswith(".json")
        )

    def _read_segment(self, name: str, v: int) -> dict:
        """One diff segment by version, wherever it lives: ``_log/``
        first (the live window), then ``_history/segments/`` (relocated
        past a checkpoint). A segment mid-relocation exists in at least
        one of the two (the relocator copies before it deletes)."""
        p = f"{self._log_dir(name)}/v{v:012d}.json"
        if self.fs.exists(p):
            try:
                return self._read_json_retry(p)
            except Exception:
                pass  # relocated between the exists probe and the read
        return self._read_json_retry(f"{self._archived_seg_dir(name)}/v{v:012d}.json")

    def _relocate_log_segments(self, name: str, cutoff: int) -> None:
        """Move segments with version < ``cutoff`` (the checkpoint just
        written covers them) out of ``_log/`` into ``_history/segments/``.
        The newest segment — version == cutoff, the one this commit wrote
        — is kept as a FENCE: ``_log/`` is never empty once a table has
        entered log mode, which is what lets the manifest cache detect a
        rival's checkpoint+relocation as a version gap instead of
        silently serving stale state. Best-effort and crash-safe: copy
        before delete, so a reader always finds each segment in at least
        one location; a failed move just leaves the segment for the next
        checkpoint to retry."""
        segs = [v for v in self._log_segments(name) if v < cutoff]
        if not segs:
            return
        dst_dir = self._archived_seg_dir(name)
        self.fs.mkdirs(dst_dir)
        for v in segs:
            src = f"{self._log_dir(name)}/v{v:012d}.json"
            dst = f"{dst_dir}/v{v:012d}.json"
            try:
                if not self.fs.exists(dst):
                    self.fs.write_text_atomic(dst, self.fs.read_text(src))
                self.fs.delete(src)
            except Exception:
                continue  # retried at the next checkpoint; reads use both dirs

    # manifest fields stored as DELTAS in a segment (the ones that grow
    # with partition/vectored-file count); everything else is carried
    # whole per segment. Older segments simply lack a newer field's
    # ``_delta`` key and fold as empty — backward compatible by
    # construction.
    _LOG_DELTA_FIELDS = (
        "committed",
        "zone_maps",
        "deletion_vectors",
        "dv_file_rows",
    )

    @staticmethod
    def _apply_segment(raw: dict, seg: dict) -> dict:
        """Fold one diff segment into a raw manifest dict (in place)."""
        raw.update(seg["full"])
        for field_name in Lakehouse._LOG_DELTA_FIELDS:
            target = raw.setdefault(field_name, {})
            for k, v in seg.get(f"{field_name}_delta", {}).items():
                if v is None:
                    target.pop(k, None)
                else:
                    target[k] = v
        raw["version"] = seg["version"]
        for audit in ("_ts", "_action"):
            if audit in seg:
                raw[audit] = seg[audit]
        return raw

    @staticmethod
    def _copy_raw(raw: dict) -> dict:
        """Hand-out copy of a cached raw manifest: shallow except the
        container fields callers mutate. One level is enough — the
        protocol only ever REBINDS inner values (zone-map stat dicts,
        per-column analyze entries); nothing mutates them in place, so
        sharing the leaves is safe and keeps a cache hit O(entries)
        dict-copies instead of an O(bytes) JSON round-trip (the 9 s /
        156 MB parse at 1M entries this cache exists to avoid)."""
        out = dict(raw)
        for k in (
            "committed",
            "zone_maps",
            "deletion_vectors",
            "dv_file_rows",
            "table_stats",
            "properties",
        ):
            if isinstance(out.get(k), dict):
                out[k] = dict(out[k])
        for k in (
            "live_deltas",
            "dirty_partitions",
            "partition_keys",
            "primary_keys",
            "stats_columns",
            "bloom_columns",
            "dv_sidecars",
        ):
            if isinstance(out.get(k), list):
                out[k] = list(out[k])
        return out

    def _read_meta_raw(self, name: str) -> dict:
        """Current manifest STATE: the checkpoint (_bl_meta.json) plus any
        newer diff segments from ``_log/`` applied in version order. For
        tables that never crossed the segment threshold this is one GET
        plus one (negative) existence probe of ``_log/``. The
        checkpoint's own version is recorded as ``_ckpt_version`` (a
        private key ``_meta_from_raw`` filters out) so the committer
        knows when the checkpoint cadence is due; ``_has_log`` records
        that the table is in log mode (and stays there — see
        ``_commit_state``).

        LOG-MODE CACHE: for tables past the segment threshold the
        checkpoint parse is the expensive part of every load (O(table
        entries), measured ~0.3 s/16 MB at 100k and ~9 s/156 MB at 1M —
        SCALING.md), so each handle keeps the last FOLDED raw manifest
        per table and advances it by applying only the segments newer
        than its version — O(touched-this-commit) per load. Soundness
        does NOT rest on clocks or mtimes: commits bump the version by
        exactly 1 under the commit lock, every log-mode commit writes a
        segment, and relocation always keeps the newest segment in
        ``_log/`` as a fence — so a rival's commits appear either as a
        CONTIGUOUS run of segments cached_version+1.. (folded — same
        state a full read would produce, since a checkpoint is just the
        fold of its segments) or as a GAP / an empty ``_log/`` (cache
        dropped, full re-read). A drop+recreate whose new life lands on
        EXACTLY the cached version would look like a fence hit, so every
        fence-only hit re-reads the fence segment (one O(touched-size)
        JSON GET) and verifies its ``table_uuid`` against the cached
        life — a remembered "already verified" marker would be unsound,
        because the file at that version can be REPLACED by a new life
        between loads while keeping the same version number. Never a
        silent stale serve."""
        segs = self._log_segments(name)
        # MUTEX DISCIPLINE: _meta_cache_mu is handle-wide, so it must
        # never be held across filesystem I/O — one slow S3 segment GET
        # would block every other thread's manifest load for ALL tables
        # on this handle. The hit path therefore snapshots the cached
        # fold under the lock, does all _read_segment I/O on the PRIVATE
        # copy, and swaps the advanced fold back in under the lock only
        # if it is still strictly ahead of (and the same life as)
        # whatever is cached by then — a rival thread advancing the
        # cache concurrently just wins; both folds are verified.
        with self._meta_cache_mu:
            cached = self._meta_cache.get(name)
            snap = self._copy_raw(cached) if cached is not None else None
        if snap is not None:
            base_version = snap["version"]
            newer = [v for v in segs if v > base_version]
            # valid hit: either no new commits (the fence is exactly
            # our version) or a contiguous run starting right after
            # it. Anything else — a gap (a rival checkpointed and
            # relocated), an empty log (dropped/replaced table), a
            # fence BELOW our version (a recreated life) — drops the
            # cache and takes the full read.
            ok = (
                bool(segs)
                and (
                    newer
                    == list(range(base_version + 1, base_version + 1 + len(newer)))
                )
                and (max(segs) == base_version if not newer else True)
            )
            if ok:
                try:
                    if not newer:
                        # fence-only hit: a recreated table whose NEW
                        # life reached exactly our version would
                        # otherwise serve the dead life's fold — read
                        # the fence and check which life wrote it.
                        fence = self._read_segment(name, max(segs))
                        if (
                            fence.get("full", {}).get("table_uuid", "")
                            != snap.get("table_uuid", "")
                        ):
                            raise LookupError("fence from another table life")
                        return snap
                    for v in newer:
                        seg = self._read_segment(name, v)
                        if (
                            seg.get("full", {}).get("table_uuid", "")
                            != snap.get("table_uuid", "")
                        ):
                            raise LookupError("segment from another table life")
                        self._apply_segment(snap, seg)
                    with self._meta_cache_mu:
                        cur = self._meta_cache.get(name)
                        if cur is None or (
                            cur.get("table_uuid") == snap.get("table_uuid")
                            and cur["version"] < snap["version"]
                        ):
                            self._meta_cache[name] = self._copy_raw(snap)
                    return snap
                except Exception:
                    pass  # vanished segment / foreign life: full read
            # stale/foreign: drop the cache — but only if no rival has
            # already replaced it with something newer while we looked
            with self._meta_cache_mu:
                cur = self._meta_cache.get(name)
                if cur is not None and cur["version"] == base_version:
                    self._meta_cache.pop(name, None)
        raw = self._read_json_retry(self._meta_path(name))
        raw = self._inflate_entries(name, raw)
        raw["_ckpt_version"] = raw.get("version", 0)
        for v in segs:
            if v > raw["version"]:
                raw = self._apply_segment(raw, self._read_segment(name, v))
        raw["_has_log"] = bool(segs)
        if segs:
            with self._meta_cache_mu:
                cur = self._meta_cache.get(name)
                # don't regress a fold a rival thread advanced past us
                # while we were doing the full read (any verified fold
                # is a sound base, but the newer one saves re-folding)
                if cur is None or (
                    cur.get("table_uuid") != raw.get("table_uuid")
                    or cur["version"] <= raw["version"]
                ):
                    self._meta_cache[name] = self._copy_raw(raw)
        return raw

    def _load_meta(self, name: str) -> TableMeta:
        raw = self._read_meta_raw(name)
        if "committed" not in raw and "live_deltas" not in raw:
            # pre-manifest metadata: if data exists under the old layout
            # (hive dirs not wrapped in _seq=K generations), reading via
            # the manifest would silently return 0 rows — refuse instead
            data_dir = f"{self._dir(name)}/data"
            legacy_dirs = [
                d
                for d in self.fs.list_subdirs(data_dir)
                if not d.startswith(f"{_SEQ_COL}=")
            ] + [d for d in self.fs.list_subdirs(self._dir(name)) if "=" in d]
            if legacy_dirs:
                raise LegacyLayoutError(
                    f"table {name!r} has pre-manifest data layout "
                    f"(e.g. {legacy_dirs[0]!r}); migrate it into a _seq=K "
                    "generation before reading"
                )
        return self._meta_from_raw(raw)

    @staticmethod
    def _meta_from_raw(raw: dict) -> TableMeta:
        # nothing enforces CHECK constraints: refuse a manifest that
        # declares any rather than drop them silently as an unknown key
        if raw.get("checks"):
            raise LegacyLayoutError(
                f"table {raw.get('name')!r} declares CHECK constraints "
                f"{sorted(raw['checks'])}, which are no longer enforced; "
                "re-create the table without them"
            )
        known = {f.name for f in dataclass_fields(TableMeta)}
        meta = TableMeta(**{k: v for k, v in raw.items() if k in known})
        # ONE accepted sidecar-entry layout (7 fields, the format marker
        # last), checked here once so readers index e[0..6] directly
        for e in meta.dv_sidecars:
            if e[6:] != [Lakehouse._DV_SIDECAR_FORMAT]:
                raise LegacyLayoutError(
                    f"table {meta.name!r}: deletion-vector sidecar entry "
                    f"{e[0]!r} has a retired layout; re-create the table "
                    "and re-insert"
                )
        for d in meta.dirty_partitions:
            if not isinstance(d, str):
                raise LegacyLayoutError(
                    f"table {meta.name!r}: dirty partition {d!r} is a "
                    "retired value-tuple entry, not a partition path; "
                    "re-create the table and re-insert"
                )
        return meta

    # Columnar checkpoint (r10): past this many committed+zone_maps
    # entries the checkpoint's two O(table) dicts move from inline JSON
    # into a zstd parquet sidecar next to _bl_meta.json (13× fewer bytes
    # at 1M entries: 3.9 vs 51 MB). The sidecar is immutable and
    # version-named; the JSON atomically swaps a POINTER to it, so
    # readers see old-JSON→old-sidecar or new-JSON→new-sidecar, never a
    # torn pair. The previous sidecar is retained one checkpoint (a
    # reader holding the old JSON may still be fetching it); older ones
    # are GC'd best-effort on each save. _history/ archives keep FULL
    # inline JSON — time travel and history() are unaffected.
    #
    # DEFAULT 0 = scheme-dependent: measured head-to-head (SCALING.md
    # cold-parse rung, r10), a single C-speed json.loads of the inline
    # checkpoint is FASTER than parquet-decode + Python
    # re-materialization at both 100k and 1M entries once the local I/O
    # fast path is in — full dict materialization is the floor, and
    # JSON parses straight into it. So file/hdfs roots keep inline JSON
    # at every size. On OBJECT-STORE roots (anything else: s3a, gs,
    # abfs, ...) checkpoint BYTES dominate: the r11 simulated-store rung
    # (SCALING.md, 50 ms RTT) measured columnar winning the save wall at
    # every bandwidth tested (2.0–2.4 s vs 3.3–6.1 s at 1M entries) and
    # the cold load below ~50 MB/s single-stream — the realistic
    # single-GET regime — so past _OBJSTORE_MIN_ENTRIES those roots
    # default to the sidecar. Set a positive threshold to force the
    # columnar shape everywhere it's met, regardless of scheme; set -1
    # to force inline JSON everywhere (the escape hatch for external
    # tooling that parses the checkpoint's committed/zone_maps dicts
    # directly and cannot chase a sidecar pointer).
    _COLUMNAR_CHECKPOINT_MIN_ENTRIES = 0
    #: entry count past which an object-store root's checkpoint goes
    #: columnar by default (≈ the size where one checkpoint PUT reaches
    #: several MB and transfer starts to rival parse time)
    _COLUMNAR_CHECKPOINT_OBJSTORE_MIN_ENTRIES = 100_000

    def _entries_sidecars(self, name: str) -> list[str]:
        """Version-sorted sidecar file names present in the table dir."""
        return sorted(
            n
            for n, _ in self.fs.list_files(self._dir(name))
            if n.startswith("_bl_meta.entries-")
        )

    @staticmethod
    def _entries_to_parquet(committed: dict, zone_maps: dict) -> bytes:
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "kind": pa.array(
                    [0] * len(committed) + [1] * len(zone_maps), pa.int8()
                ),
                "key": pa.array(
                    list(committed.keys()) + list(zone_maps.keys()), pa.string()
                ),
                "seq": pa.array(
                    list(committed.values()) + [None] * len(zone_maps), pa.int64()
                ),
                "stats": pa.array(
                    [None] * len(committed)
                    + [json.dumps(v) for v in zone_maps.values()],
                    pa.string(),
                ),
            }
        )
        buf = io.BytesIO()
        pq.write_table(table, buf, compression="zstd")
        return buf.getvalue()

    @staticmethod
    def _entries_from_parquet(data: bytes) -> tuple[dict, dict]:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(pa.BufferReader(data))
        is_committed = pc.equal(t.column("kind"), 0)
        ct = t.filter(is_committed)
        zt = t.filter(pc.invert(is_committed))
        committed = dict(
            zip(ct.column("key").to_pylist(), ct.column("seq").to_pylist())
        )
        stats = zt.column("stats").to_pylist()
        # one C-speed parse of the concatenated values instead of one
        # json.loads per entry (~30% off the decode at 1M entries —
        # SCALING.md cold-parse rung); sound because each element is a
        # complete JSON object, so the join IS a valid JSON array
        values = json.loads(f"[{','.join(stats)}]") if stats else []
        zone_maps = dict(zip(zt.column("key").to_pylist(), values))
        return committed, zone_maps

    def _save_meta(self, meta: TableMeta) -> None:
        doc = dict(meta.__dict__)
        n_entries = len(meta.committed) + len(meta.zone_maps)
        threshold = self._COLUMNAR_CHECKPOINT_MIN_ENTRIES
        if threshold == 0 and self.fs.scheme not in ("file", "hdfs", "viewfs"):
            threshold = self._COLUMNAR_CHECKPOINT_OBJSTORE_MIN_ENTRIES
        columnar = threshold > 0 and n_entries >= threshold
        if columnar:
            sidecar = (
                f"_bl_meta.entries-v{meta.version:012d}-{uuid.uuid4().hex[:8]}.parquet"
            )
            # sidecar first: uuid-named and unreferenced until the JSON
            # pointer lands, so a crash here leaves only an orphan file
            # (GC'd by a later save); no reader can observe it early
            self.fs.write_bytes(
                f"{self._dir(meta.name)}/{sidecar}",
                self._entries_to_parquet(meta.committed, meta.zone_maps),
            )
            del doc["committed"], doc["zone_maps"]
            doc["_entries_file"] = sidecar
            self._sidecar_tables.add(meta.name)
        self.fs.write_text_atomic(self._meta_path(meta.name), json.dumps(doc))
        if columnar:
            # GC sidecars older than the previous checkpoint's (names
            # sort by version). Best-effort: a failure just leaves extra
            # immutable files for the next save to reap.
            for stale in self._entries_sidecars(meta.name)[:-2]:
                try:
                    self.fs.delete(f"{self._dir(meta.name)}/{stale}")
                except Exception:
                    pass
        elif meta.name in self._sidecar_tables:
            # the table went back to inline (threshold lowered to 0, or
            # the entry count shrank below it): the JSON no longer names
            # any sidecar, so sweep them all. A concurrent reader still
            # chasing the old pointer just re-reads the JSON and finds
            # the inline dicts (_inflate_entries' bounded retry).
            for stale in self._entries_sidecars(meta.name):
                try:
                    self.fs.delete(f"{self._dir(meta.name)}/{stale}")
                except Exception:
                    pass
            self._sidecar_tables.discard(meta.name)

    def _inflate_entries(self, name: str, raw: dict) -> dict:
        """Resolve a columnar checkpoint's sidecar pointer back into the
        inline ``committed``/``zone_maps`` dicts. If the sidecar named by
        the JSON was GC'd between our JSON read and the fetch (two
        checkpoints landed in that window), re-read the JSON — it now
        names a live sidecar; bounded retries, then fail honestly."""
        for _ in range(5):
            ptr = raw.get("_entries_file")
            if not ptr:
                return raw
            self._sidecar_tables.add(name)
            try:
                data = self.fs.read_bytes(f"{self._dir(name)}/{ptr}")
            except Exception:
                raw = self._read_json_retry(self._meta_path(name))
                continue
            committed, zone_maps = self._entries_from_parquet(data)
            raw = dict(raw)
            del raw["_entries_file"]
            raw["committed"] = committed
            raw["zone_maps"] = zone_maps
            return raw
        raise IOError(
            f"table {name!r}: checkpoint sidecar {raw.get('_entries_file')!r} "
            "unreadable across 5 JSON re-reads — storage trouble or a GC "
            "policy deleting sidecars faster than one checkpoint interval"
        )

    # -- manifest history (time travel) ------------------------------------
    def _history_dir(self, name: str) -> str:
        return f"{self._dir(name)}/_history"

    def _archive_meta(self, meta: TableMeta, action: str) -> None:
        """Append-only audit/time-travel log: one tiny JSON per committed
        manifest version. Written AFTER the current-manifest PUT (the
        commit point) — a crash between the two loses only the archive
        entry for that version, never table consistency."""
        import datetime as _dt

        rec = dict(meta.__dict__)
        rec["_ts"] = _dt.datetime.now(_dt.timezone.utc).isoformat()
        rec["_action"] = action
        self.fs.mkdirs(self._history_dir(meta.name))
        self.fs.write_text_atomic(
            f"{self._history_dir(meta.name)}/v{meta.version:012d}.json",
            json.dumps(rec),
        )

    def _history_versions(self, name: str) -> list[int]:
        return sorted(
            int(n[1:-5])
            for n, _ in self.fs.list_files(self._history_dir(name))
            if n.startswith("v") and n.endswith(".json")
        )

    def _load_version(self, name: str, version: int) -> dict:
        """Raw manifest dict of commit ``version`` (unvalidated: the log
        fold reads it as-is; readers go through ``_version_meta``)."""
        p = f"{self._history_dir(name)}/v{version:012d}.json"
        if self.fs.exists(p):
            return self._read_json_retry(p)
        # segmented mode archives only every checkpoint; intermediate
        # versions reconstruct as nearest archived anchor ≤ version plus
        # the diff segments up to it (segments are relocated to
        # _history/segments/ past a checkpoint, never deleted, so
        # reconstruction works as far back as the anchors go)
        anchors = [w for w in self._history_versions(name) if w <= version]
        if anchors:
            have = set(self._log_segments(name)) | set(self._archived_segments(name))
            w = max(anchors)
            if all(v in have for v in range(w + 1, version + 1)):
                raw = self._read_json_retry(
                    f"{self._history_dir(name)}/v{w:012d}.json"
                )
                for v in range(w + 1, version + 1):
                    raw = self._apply_segment(raw, self._read_segment(name, v))
                return raw
        raise SnapshotExpiredError(
            f"table {name!r} has no archived manifest for version {version} "
            f"(known anchors: {self._history_versions(name)})"
        )

    def _fold_window(self, name: str, versions):
        """Yield ``(version, raw manifest dict)`` for each version in
        order — THE reconstruction walk shared by ``history()`` and
        ``vacuum()``'s retention sweep (one policy, no drift): archived
        full manifests re-anchor, contiguous versions fold one diff
        segment forward, and gaps fall back to ``_load_version``'s
        anchor reconstruction. Cost for a full window: one anchor read
        per checkpoint plus one small segment read per version, never a
        full manifest materialization per version."""
        cur: dict | None = None
        for v in versions:
            anchor = f"{self._history_dir(name)}/v{v:012d}.json"
            if self.fs.exists(anchor):
                cur = self._read_json_retry(anchor)
            elif cur is not None and v == cur.get("version", -1) + 1:
                cur = self._apply_segment(cur, self._read_segment(name, v))
            else:
                cur = self._load_version(name, v)
            yield v, cur

    def history(self, name: str, limit: int | None = None) -> list[dict]:
        """The table's commit log, oldest first: one entry per manifest
        version with its action, UTC timestamp, and visibility summary.
        The Delta `DESCRIBE HISTORY` shape, backed by the `_history/`
        archive that every commit appends to. Each entry costs one
        archive read (a full manifest copy), so pass ``limit`` for the
        most recent N on long-lived tables. Segmented-mode commits
        (diff segments between checkpoints) appear too — their entries
        FOLD FORWARD from the previous entry where versions are
        contiguous (one segment read each, O(n) total for a full
        listing), falling back to anchor reconstruction only at the
        start of a ``limit`` window."""
        versions = sorted(
            set(self._history_versions(name))
            | set(self._log_segments(name))
            | set(self._archived_segments(name))
        )
        if limit is not None:
            versions = versions[-limit:]
        return [
            {
                "version": v,
                "ts": cur.get("_ts"),
                "action": cur.get("_action"),
                "live_deltas": len(cur.get("live_deltas") or []),
                "committed_entries": len(cur.get("committed") or {}),
            }
            for v, cur in self._fold_window(name, versions)
        ]

    def _commit_meta(
        self,
        meta: TableMeta,
        token: str | None = None,
        action: str = "commit",
        rebase=None,
    ) -> TableMeta:
        """The commit point of every mutation, with optimistic concurrency
        detection AND (where the op provides a ``rebase``) optimistic
        rebase of provably-disjoint commits. Before the PUT we (a) check
        the on-disk manifest version still equals the version this writer
        loaded — another writer's commit in between bumps it — and (b)
        verify this writer's attempt-token file still exists in its
        generation dir (defense in depth; generation numbers are uniquely
        reserved via ``_reserve_seq``, so data clobbering cannot happen
        by protocol).

        When (a) fails and the op passed ``rebase``, the fresh on-disk
        manifest is loaded and ``rebase(fresh) -> TableMeta | None``
        re-applies this writer's mutation onto it — returning None when
        the two commits are NOT provably disjoint (then we raise as
        before). Generations are append-only and uniquely numbered, so a
        successful rebase repoints only partitions the other commit
        demonstrably didn't touch. Up to 5 rebase rounds (each losing the
        race to yet another writer) are attempted. Returns the committed
        meta — callers must use the RETURN VALUE for post-commit state,
        not their (possibly stale) local object.

        The re-read → validate → PUT sequence runs inside a short leased
        per-table COMMIT LOCK (``_commit_lock``): without it, two
        writers can both pass the version check and the second PUT
        silently erases the first commit (a lost update the r7 protocol
        carried — its window was 'milliseconds instead of the whole job
        runtime', but the two-thread race test hit it ~1 run in 10).
        The lock serializes only this metadata section (~10 ms), never
        the data writes, so writer throughput at scale is unaffected —
        the same serialization point every Delta/Iceberg commit
        service has. Races that began before the lock (another commit
        landed between this writer's load and its lock) still resolve
        through the optimistic rebase."""
        with self._commit_lock(meta.name):
            for _ in range(5):
                on_disk = self._read_meta_raw(meta.name)
                if on_disk.get("version", 0) != meta.version:
                    rebased = (
                        rebase(self._meta_from_raw(on_disk))
                        if rebase is not None
                        else None
                    )
                    if rebased is None:
                        raise ConcurrentWriteError(
                            f"table {meta.name!r}: manifest version moved "
                            f"{meta.version} -> {on_disk.get('version', 0)} since "
                            "load and the concurrent commit is not provably "
                            "disjoint — retry from a fresh state"
                        )
                    meta = rebased
                    continue
                if token is not None and not self.fs.exists(token):
                    raise ConcurrentWriteError(
                        f"table {meta.name!r}: generation attempt token vanished — "
                        "this generation's directory was cleared externally; "
                        "retry from a fresh state"
                    )
                meta.version += 1
                self._commit_state(meta, on_disk, action)
                return meta
        raise ConcurrentWriteError(
            f"table {meta.name!r}: lost the commit race 5 times in a row — "
            "retry from a fresh state"
        )

    def _commit_state(self, meta: TableMeta, on_disk: dict, action: str) -> None:
        """The durable commit write. Small manifests (the overwhelmingly
        common case) keep the r7 shape: one full-manifest atomic PUT plus
        a full archive copy. Past ``_LOG_SEGMENT_THRESHOLD`` tracked
        entries, the commit instead appends a DIFF SEGMENT —
        O(partitions this commit touched), not O(table) — to ``_log/``,
        and rewrites the full checkpoint (plus its archive copy, the
        time-travel anchor) only every ``_LOG_CHECKPOINT_EVERY``
        segments. The segment PUT is the commit point (atomic swap);
        a crash before the checkpoint loses nothing — readers fold
        newer segments into the checkpoint on every load. Runs inside
        the commit lock, so segment versions never collide.

        Log mode is STICKY: once a table has written segments, every
        later commit writes one too — even if a compaction shrinks the
        table back under the threshold. A small-path commit on a table
        with live segments would be invisible to the manifest cache's
        segment-based invalidation (no new segment, no gap), and
        'checkpoint every 20 tiny commits' costs nothing on a small
        table anyway."""
        if (
            len(meta.committed) + len(meta.zone_maps) < self._LOG_SEGMENT_THRESHOLD
            and not on_disk.get("_has_log")
        ):
            self._save_meta(meta)
            self._archive_meta(meta, action)
            return
        import datetime as _dt

        seg: dict = {
            "version": meta.version,
            "_action": action,
            "_ts": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "full": {
                f.name: getattr(meta, f.name)
                for f in dataclass_fields(TableMeta)
                if f.name not in self._LOG_DELTA_FIELDS
            },
        }
        for field_name in self._LOG_DELTA_FIELDS:
            old = on_disk.get(field_name, {})
            new = getattr(meta, field_name)
            delta = {k: v for k, v in new.items() if old.get(k) != v}
            delta.update({k: None for k in old if k not in new})
            seg[f"{field_name}_delta"] = delta
        self.fs.mkdirs(self._log_dir(meta.name))
        self.fs.write_text_atomic(
            f"{self._log_dir(meta.name)}/v{meta.version:012d}.json", json.dumps(seg)
        )
        if (
            meta.version - on_disk.get("_ckpt_version", 0)
            >= self._LOG_CHECKPOINT_EVERY
        ):
            self._save_meta(meta)
            self._archive_meta(meta, action)
            self._relocate_log_segments(meta.name, meta.version)
            # keep this handle's cadence counter current — the cached
            # fold never re-reads the checkpoint, so without this the
            # handle would believe a checkpoint is due on EVERY commit
            # from here on (rival checkpoints advancing _ckpt_version
            # go unseen too; that only costs an occasional duplicate
            # checkpoint write, never correctness)
            with self._meta_cache_mu:
                c = self._meta_cache.get(meta.name)
                if c is not None:
                    c["_ckpt_version"] = meta.version

    # commit-lock lease: a holder that has been silent this long is
    # presumed crashed and its lock is broken (the section it guards is
    # ~10 ms of metadata ops, so a LIVE holder exceeding the lease would
    # need a minutes-long driver stall mid-commit)
    _LOCK_LEASE_MS = 60_000
    _LOCK_TIMEOUT_S = 120.0
    # commit-lock wait: exponential backoff from INITIAL doubling to CAP
    # (class attrs so the scale ladder can measure contention under the
    # r8 bare-spin shape by pinning CAP = INITIAL)
    _LOCK_BACKOFF_INITIAL_S = 0.003
    _LOCK_BACKOFF_CAP_S = 0.25

    def _store_now_ms(self, near: str) -> int:
        """The STORAGE SYSTEM's current clock, estimated by stamping a
        probe file next to ``near`` and reading its mtime back. Lease
        staleness must be judged in the store's clock — the lock mtime
        was stamped by the namenode/S3, and a breaker host whose wall
        clock runs a minute ahead would otherwise evict a LIVE holder
        the instant it acquired (r8 review finding). One tiny write,
        only on the rare already-looks-stale path."""
        probe = f"{near}.clock-{uuid.uuid4().hex}"
        try:
            self.fs.write_bytes(probe, b"")
            return self.fs.mtime(probe)
        finally:
            self.fs.delete(probe)

    def _break_stale_lock(self, lock: str) -> None:
        """Evict a crashed holder's lock, arbitrated so concurrent
        breakers cannot destroy a LIVE lock.

        file:// and HDFS — where rename is an atomic move that preserves
        mtime: (1) the rename moves exactly one file (losers no-op);
        (2) rename preserves mtime, so the tombstone carries the true
        age of whatever was moved — if it turns out FRESH (a rival
        breaker already evicted and a new holder re-acquired between our
        staleness check and our rename), it is restored via a
        no-overwrite link, never deleted. The residual exposure — a
        restore finding the path re-taken by a third acquirer within
        that microsecond window — requires a live holder to also have
        stalled past the lease, which is the documented correctness
        boundary of ANY lease-based lock.

        Object stores (s3a, ...) — where rename is copy+delete and the
        tombstone is stamped with the COPY time, so the restore dance
        cannot judge age (r8 review: a genuinely stale lock was
        unbreakable on s3a): evict via ``delete_if_older_hook`` when
        installed — one HEAD reads (ETag, LastModified) together and the
        DELETE is If-Match keyed on that ETag, so a lock re-acquired
        in between survives (server-side CAS). Without a hook, re-read
        the lock's mtime (S3 Last-Modified IS acquisition time — the
        object is never modified in place) and plain-delete — one
        round-trip of residual exposure, the same class as the
        HEAD-then-PUT claim fallback documented at
        ``create_exclusive``."""
        if self.fs.scheme not in ("file", "hdfs", "viewfs"):
            cutoff = self._store_now_ms(lock) - self._LOCK_LEASE_MS
            if self.fs.delete_if_older_hook is not None:
                self.fs.delete_if_older_hook(lock, cutoff)
                return
            held_ms = self.fs.mtime(lock)
            if held_ms and held_ms < cutoff:
                self.fs.delete(lock)
            return
        tomb = f"{lock}.broken-{uuid.uuid4().hex}"
        if not self.fs.rename_exact(lock, tomb):
            return  # another breaker won the eviction
        tomb_ms = self.fs.mtime(tomb)
        if tomb_ms and (
            self._store_now_ms(lock) - tomb_ms > self._LOCK_LEASE_MS
        ):
            self.fs.delete(tomb)  # genuinely stale: eviction complete
            return
        self.fs.link_exact(tomb, lock)  # fresh victim: put it back
        self.fs.delete(tomb)

    @contextmanager
    def _commit_lock(self, name: str):
        """Serialize the manifest commit section per table via an
        exclusive-create lock file (atomic on file://'s O_EXCL and
        HDFS's namenode-arbitrated create; If-None-Match CAS on S3 when
        the boto3 hook is installed, HEAD-then-PUT residual otherwise —
        documented at ``create_exclusive``). The lock content is this
        holder's identity token: release deletes the lock only while it
        is still OURS, so a holder that stalled past the lease and was
        evicted cannot destroy its evictor's fresh lock. Crashed holders
        are evicted after ``_LOCK_LEASE_MS``, judged in the STORE's
        clock and arbitrated by ``_break_stale_lock``. Every loop
        iteration sleeps and checks the deadline — a persistently
        failing eviction degrades to the timeout error, never an
        unbounded busy-spin."""
        lock = f"{self._dir(name)}/_commit.lock"
        token = uuid.uuid4().hex.encode()
        deadline = time.monotonic() + self._LOCK_TIMEOUT_S
        delay = self._LOCK_BACKOFF_INITIAL_S
        while True:
            if self.fs.create_exclusive(lock, token):
                break
            held_ms = self.fs.mtime(lock)
            # Local-clock prefilter, store-clock confirm. A breaker host
            # whose clock runs far BEHIND the store's never sees the
            # lock as stale locally and degrades to the timeout error
            # below rather than eviction — safe (no live lock is ever at
            # risk from a slow clock), just slower; past HALF the
            # timeout we consult the store clock regardless, so a
            # crashed holder is still evicted within the deadline.
            past_half = time.monotonic() > deadline - self._LOCK_TIMEOUT_S / 2
            if held_ms and (
                (time.time() * 1000 - held_ms) > self._LOCK_LEASE_MS or past_half
            ):
                if self._store_now_ms(lock) - held_ms > self._LOCK_LEASE_MS:
                    self._break_stale_lock(lock)
            if time.monotonic() > deadline:
                raise ConcurrentWriteError(
                    f"table {name!r}: commit lock held for over "
                    f"{self._LOCK_TIMEOUT_S:.0f}s — crashed writer or "
                    "pathological contention; inspect/remove "
                    f"{lock!r} if no writer is live"
                )
            # exponential backoff with jitter: a bare 3 ms spin is ~300
            # conditional PUTs/s per waiting writer against S3 —
            # throttling bait. Cap at 250 ms; the guarded section is
            # ~10 ms, so the cap costs at most one section-length extra
            # wait while keeping contended request rates civil.
            time.sleep(delay * (0.5 + random.random()))
            delay = min(delay * 2, self._LOCK_BACKOFF_CAP_S)
        try:
            yield
        finally:
            try:
                if self.fs.read_bytes(lock) == token:
                    self.fs.delete(lock)
            except Exception:
                pass  # lock vanished: we were evicted past our lease

    def _reserve_seq(self, name: str, meta: TableMeta) -> int:
        """Allocate a generation number no concurrent writer can share:
        exclusive-create a claim file under ``_claims/`` starting at the
        loaded ``next_seq`` and probing upward. Two writers that loaded
        the same manifest therefore write to DIFFERENT ``_seq=K`` dirs —
        a racing writer can never clear a directory another writer's
        commit (past or pending) references, which is what makes the
        optimistic rebase in ``_commit_meta`` sound. Claim files are one
        empty object per generation (same order as the history archive)
        and are never reused, so crashed reservations only skip numbers
        — sequence monotonicity is preserved."""
        claims = f"{self._dir(name)}/_claims"
        self.fs.mkdirs(claims)
        k = meta.next_seq
        for _ in range(10_000):
            if self.fs.create_exclusive(f"{claims}/seq-{k:012d}"):
                return k
            k += 1
        raise ConcurrentWriteError(
            f"table {name!r}: could not reserve a generation number "
            f"after 10000 probes from {meta.next_seq}"
        )

    @staticmethod
    def _snapshot_meta(meta: TableMeta) -> TableMeta:
        """Copy of the manifest as loaded — the 'before' image the rebase
        diff is computed against. JSON round-trip, not ``copy.deepcopy``:
        every field is JSON-plain by construction (it IS the serialized
        manifest), and on a manifest tracking thousands of partitions the
        generic deepcopy's per-object dispatch is ~10× slower than the C
        JSON codec (part of the r7 commit-overhead growth)."""
        return Lakehouse._meta_from_raw(json.loads(json.dumps(meta.__dict__)))

    @staticmethod
    def _struct_unchanged(before: TableMeta, fresh: TableMeta) -> bool:
        """A rebase is only meaningful while the table's structural
        contract is what this writer compiled its plan against."""
        return (
            fresh.schema_json == before.schema_json
            and fresh.partition_keys == before.partition_keys
            and fresh.primary_keys == before.primary_keys
            and fresh.stats_columns == before.stats_columns
            and fresh.retain_versions == before.retain_versions
        )

    def _make_rebase(
        self,
        before: TableMeta,
        after: TableMeta,
        kind: str,
        base_rels: "set[str] | None" = None,
        delta_rels: "list[str] | None" = None,
        delta_all_dirty: bool = False,
    ):
        """Build the ``rebase(fresh) -> TableMeta | None`` closure for
        ``_commit_meta``: re-applies THIS writer's manifest mutation
        (the before→after diff) onto a fresh manifest another writer
        committed meanwhile, iff the two commits are provably disjoint.

        ``kind='append'`` (insert mode=append): an appended delta
        generation commutes with any other commit that kept the table's
        structure — replay unconditionally. The dirty set is replayed
        from ``delta_rels`` — the partitions the delta ACTUALLY wrote —
        never from a before/after set difference: a partition that was
        already dirty at load contributes nothing to the difference, and
        if the concurrent commit was an optimize() that cleaned it, the
        replay would leave a live delta with no dirty entry, which a
        later partition-pruned optimize() would silently drop (data
        loss). ``delta_all_dirty`` is the unpartitioned analogue.

        ``kind='rmw'`` (optimize/compact/upsert/delete_where): the
        rewrite was derived from a snapshot of ``base_rels`` (None = the
        whole table), the pending deltas, and the dirty set; rebase only
        when the fresh manifest proves the other commit touched NONE of
        them: every base partition pointer unchanged, no delta we read
        consumed. A rival delta APPENDED meanwhile is carried through
        the rebase — kept live with its dirty rels — iff its partition
        footprint (read off its immutable generation dir, one LIST per
        extra delta) is provably disjoint from everything this rewrite
        read or wrote; without that, a continuously-ingesting table
        could never compact (every maintenance pass would lose the race
        to the next micro-batch — a liveness hole at streaming-sink
        scale). Whole-table rewrites and unpartitioned tables cannot be
        disjoint from any append and still conflict. Anything else
        returns None and the caller raises."""
        repointed = {
            rel: s
            for rel, s in after.committed.items()
            if before.committed.get(rel) != s
        }
        popped = [rel for rel in before.committed if rel not in after.committed]
        added_deltas = [s for s in after.live_deltas if s not in before.live_deltas]
        zone_diff = {
            k: v
            for k, v in after.zone_maps.items()
            if before.zone_maps.get(k) != v
        }
        dv_diff = {
            k: v
            for k, v in after.deletion_vectors.items()
            if before.deletion_vectors.get(k) != v
        }
        dv_popped = [
            k for k in before.deletion_vectors if k not in after.deletion_vectors
        ]
        side_added = [
            e for e in after.dv_sidecars if e not in before.dv_sidecars
        ]
        side_popped = [
            e for e in before.dv_sidecars if e not in after.dv_sidecars
        ]
        # per-file row counts (r14): immutable facts about immutable
        # files — a rival recording the same file records the same
        # number, so replaying our additions over a rival's state can
        # never conflict; drops are re-derived by the prune below
        rows_diff = {
            k: v
            for k, v in after.dv_file_rows.items()
            if before.dv_file_rows.get(k) != v
        }

        def rebase(fresh: TableMeta) -> "TableMeta | None":
            if not self._struct_unchanged(before, fresh):
                return None
            if kind == "append":
                fresh.live_deltas.extend(added_deltas)
                seen = set(fresh.dirty_partitions)
                for r in delta_rels or []:
                    if r not in seen:
                        fresh.dirty_partitions.append(r)
                        seen.add(r)
                if delta_all_dirty:
                    fresh.all_dirty = True
            else:
                if fresh.all_dirty != before.all_dirty:
                    return None
                if any(s not in fresh.live_deltas for s in before.live_deltas):
                    return None  # other commit consumed deltas we read
                extra = [s for s in fresh.live_deltas if s not in before.live_deltas]
                extra_rels: set[str] = set()
                if extra:
                    # rival appends landed while we rewrote: carry them
                    # through iff provably outside our footprint
                    if base_rels is None or not before.partition_keys:
                        return None
                    for s in extra:
                        extra_rels.update(self._gen_rels(before.name, before, s))
                    if extra_rels & (set(base_rels) | set(repointed) | set(popped)):
                        return None
                if set(fresh.dirty_partitions) != (
                    set(before.dirty_partitions) | extra_rels
                ):
                    return None  # dirty set moved in a way appends can't explain
                if base_rels is None:
                    # whole-table rewrite: any committed-map change conflicts
                    if fresh.committed != before.committed:
                        return None
                else:
                    for rel in set(base_rels) | set(repointed) | set(popped):
                        if fresh.committed.get(rel) != before.committed.get(rel):
                            return None
                # deletion vectors under this rewrite's footprint: a rival
                # DV landed on a file we read WITHOUT it — our rewrite (or
                # our own DV merge) would resurrect the rival's deletes.
                # Outside the footprint rival DVs ride through untouched.
                def _dv_rel(key: str) -> str:
                    # decoded: scope/base_rels live in the raw namespace
                    leaf = key.rsplit("/", 1)[0]
                    return _uri_unquote(leaf.partition("/")[2])

                scope = None if base_rels is None else set(base_rels)
                for k in set(before.deletion_vectors) | set(fresh.deletion_vectors):
                    if scope is not None and _dv_rel(k) not in scope:
                        continue
                    if fresh.deletion_vectors.get(k) != before.deletion_vectors.get(k):
                        return None
                # rival SIDECAR vectors (r12): conflict at generation
                # granularity — a rival sidecar whose generations
                # intersect anything this rewrite read would have its
                # deletes resurrected by our commit. (A rival PRUNING a
                # sidecar implies a rewrite, caught by the committed-
                # pointer checks above.)
                if (
                    side_popped
                    and side_added
                    and fresh.dv_sidecars != before.dv_sidecars
                ):
                    # popped AND added entries = THIS commit CONSOLIDATED
                    # sidecars (_merge_dv_sidecars — the only path that
                    # does both); replaying that over a rival sidecar
                    # change would leave overlapping merged entries whose
                    # counts double-bill the vector budget, so
                    # consolidations only rebase over sidecar-stable
                    # states. A plain rewrite that PRUNES a sidecar
                    # (popped only, nothing added) keeps the normal
                    # disjointness rebase below — keying on popped alone
                    # cost every optimize racing an unrelated dv delete
                    # its commit (review find)
                    return None
                rival_sides = [
                    e for e in fresh.dv_sidecars if e not in before.dv_sidecars
                ]
                if rival_sides:
                    if scope is None:
                        return None  # whole-table rewrite read everything
                    our_seqs = set(before.live_deltas) | {
                        before.committed[r]
                        for r in scope
                        if r in before.committed
                    }
                    for e in rival_sides:
                        if any(int(s) in our_seqs for s in e[2]):
                            return None
                fresh.live_deltas = list(after.live_deltas) + extra
                fresh.dirty_partitions = list(after.dirty_partitions) + sorted(
                    extra_rels - set(after.dirty_partitions)
                )
                fresh.all_dirty = after.all_dirty
                for rel, s in repointed.items():
                    fresh.committed[rel] = s
                for rel in popped:
                    fresh.committed.pop(rel, None)
            fresh.zone_maps.update(zone_diff)
            fresh.deletion_vectors.update(dv_diff)
            for k in dv_popped:
                fresh.deletion_vectors.pop(k, None)
            if side_added or side_popped:
                fresh.dv_sidecars = [
                    e for e in fresh.dv_sidecars if e not in side_popped
                ] + [e for e in side_added if e not in fresh.dv_sidecars]
            fresh.dv_file_rows.update(rows_diff)
            fresh.next_seq = max(fresh.next_seq, after.next_seq)
            self._prune_zone_maps(fresh)
            self._prune_deletion_vectors(fresh)
            return fresh

        return rebase

    def exists(self, name: str) -> bool:
        return self.fs.exists(self._meta_path(name))

    def pending_deltas(self, name: str) -> int:
        """Number of insert generations not yet absorbed by a compaction —
        the PUBLIC cadence signal for LSM-style sinks (compact when this
        reaches N). Reading it from the manifest (one metadata GET) makes
        the cadence restart-proof: a recovered stream resumes where the
        TABLE is, not where a driver-local counter was."""
        return len(self._load_meta(name).live_deltas)

    def tables(self) -> list[str]:
        return sorted(
            d for d in self.fs.list_subdirs(self.root) if self.exists(d)
        )

    # -- DDL ---------------------------------------------------------------
    def create(
        self,
        name: str,
        schema: T.StructType,
        partition_keys: list[str] | None = None,
        primary_keys: list[str] | None = None,
        mode: str = "skip",
        stats_columns: list[str] | None = None,
        retain_versions: int = 0,
        bloom_columns: list[str] | None = None,
        bloom_m_bits: int = _BLOOM_DEFAULT_M,
        bloom_k: int = _BLOOM_DEFAULT_K,
        bloom_fpp: float | None = _BLOOM_DEFAULT_FPP,
    ) -> None:
        """Reference create modes (pipelines/portfolio_weights_flow.py:152-163):
        ``skip`` = CREATE TABLE IF NOT EXISTS, ``replace`` = CREATE OR REPLACE.

        ``stats_columns`` opts the table into manifest zone maps: every
        write records per-generation-leaf min/max for these columns, and
        ``scan(name, where=...)`` prunes whole files the way Delta/Iceberg
        data skipping does. ``retain_versions=K`` keeps the data of the
        last K manifest versions readable via ``table(name, version=N)``
        (time travel) and restorable via ``restore``; 0 reclaims
        superseded data eagerly (history stays as an audit log only).

        ``bloom_columns`` opts into Bloom data skipping (the Parquet
        bloom-filter / Delta file-skipping move for EQUALITY predicates,
        where min/max boxes are useless on high-cardinality ids): every
        write also records a small per-leaf membership filter of these
        columns, and ``scan(name, where={col: value})`` drops every leaf
        whose filter disproves the value — a point lookup on a 100 TB
        corpus schedules tasks for ~FPR of the files instead of all of
        them. ``bloom_m_bits``/``bloom_k`` size the per-leaf filter
        (defaults: 4096 bits / 5 hashes ≈ 1% FPR at ~570 distinct
        values per leaf). With ``bloom_fpp`` set (default 0.01) each
        leaf's m is AUTO-SIZED at write time: the smallest
        ``bloom_m_bits * 2^i`` (i ≤ 6) whose predicted FPR at the leaf's
        actual value count stays under the target — a leaf 10× denser
        than the default's design point keeps pruning at ~1% instead of
        silently degrading toward 100%. ``bloom_fpp=None`` pins every
        leaf to exactly ``bloom_m_bits`` (the pre-r11 behavior). Columns
        must be string/integer/date — types whose JVM and driver string
        renderings provably agree (floats/timestamps are refused)."""
        if mode not in ("skip", "replace"):
            raise ValueError(f"mode must be 'skip' or 'replace', got {mode!r}")
        replaced = None
        if self.exists(name):
            if mode == "skip":
                return
            # replace drops the DATA, never the audit log: _history/ is
            # the append-only commit evidence history() documents as kept
            # forever. Versioning and sequence numbers continue past the
            # old table's high-water marks so archived manifests are
            # never silently re-pointed at new data (their data is gone —
            # reads of pre-replace versions fail honestly) and the new
            # create can't overwrite an archived version file.
            replaced = self._load_meta(name)
            # relocate ALL log segments (no fence) BEFORE touching data
            # or meta: an EMPTY _log/ is exactly the signal that makes
            # every handle's manifest cache drop its pre-replace fold
            # instead of serving it as current. Relocation is
            # best-effort elsewhere (a checkpoint can retry), but HERE
            # a leftover old-life segment is a correctness hazard — it
            # could alias a rival's cached version and keep the fence
            # uuid check passing (same old life) — so verify _log/
            # really emptied and fail the replace if it did not. Doing
            # this first (after folding the newest state into the
            # checkpoint, so dropping the fence loses nothing) means a
            # failed or crashed replace leaves the OLD table fully
            # readable at its current version; the caller just retries.
            if self._log_segments(name):
                self._save_meta(replaced)
                self._relocate_log_segments(name, replaced.version + 1)
                leftover = self._log_segments(name)
                if leftover:
                    raise IOError(
                        f"create(mode='replace') on {name!r}: could not "
                        f"clear log segments {leftover} out of _log/ — a "
                        "rival handle could mistake them for current "
                        "state; the table is unchanged, retry the "
                        "replace once the storage lets them move"
                    )
            self.fs.delete(f"{self._dir(name)}/data")
            self.fs.delete(self._meta_path(name))
            for stale in self._entries_sidecars(name):
                self.fs.delete(f"{self._dir(name)}/{stale}")
            self._dv_cache_purge(name)
            with self._meta_cache_mu:
                self._meta_cache.pop(name, None)
        for k in (
            (partition_keys or [])
            + (primary_keys or [])
            + (stats_columns or [])
            + (bloom_columns or [])
        ):
            if k not in schema.fieldNames():
                raise ValueError(f"key {k!r} not in schema for table {name!r}")
        redundant = set(stats_columns or []) & set(partition_keys or [])
        if redundant:
            raise ValueError(
                f"stats_columns {sorted(redundant)} are partition keys — "
                "partition pruning already skips them; zone maps are for "
                "non-partition columns"
            )
        for c in bloom_columns or []:
            if c in (partition_keys or []):
                raise ValueError(
                    f"bloom column {c!r} is a partition key — partition "
                    "pruning already skips it exactly"
                )
            if not isinstance(schema[c].dataType, _BLOOM_TYPES):
                raise ValueError(
                    f"bloom column {c!r} must be string/integer/date (got "
                    f"{schema[c].dataType.simpleString()}): only those types "
                    "render identically under Spark's CAST AS STRING and the "
                    "driver-side probe, which Bloom pruning soundness needs"
                )
        if bloom_columns and (int(bloom_m_bits) % 64 or int(bloom_m_bits) <= 0):
            raise ValueError(f"bloom_m_bits must be a positive multiple of 64, got {bloom_m_bits}")
        if bloom_columns and bloom_fpp is not None and not (0.0 < float(bloom_fpp) < 1.0):
            raise ValueError(f"bloom_fpp must be in (0, 1) or None, got {bloom_fpp}")
        collide = set(stats_columns or []) & {f"{c}#bloom" for c in bloom_columns or []}
        if collide:
            raise ValueError(
                f"stats_columns {sorted(collide)} collide with the reserved "
                "'<bloom column>#bloom' zone-map keys"
            )
        meta = TableMeta(
            name=name,
            schema_json=json.dumps(schema.jsonValue()),
            partition_keys=list(partition_keys or []),
            primary_keys=list(primary_keys or []),
            stats_columns=list(stats_columns or []),
            retain_versions=int(retain_versions),
            table_uuid=uuid.uuid4().hex,
            bloom_columns=list(bloom_columns or []),
        )
        if bloom_columns:
            meta.properties["bloom.m_bits"] = int(bloom_m_bits)
            meta.properties["bloom.k"] = int(bloom_k)
            meta.properties["bloom.fpp"] = (
                None if bloom_fpp is None else float(bloom_fpp)
            )
        if replaced is not None:
            hist = self._history_versions(name)
            meta.version = max([replaced.version] + hist) + 1
            meta.next_seq = replaced.next_seq
        self._save_meta(meta)
        self._archive_meta(meta, "create(replace)" if replaced is not None else "create")

    def drop(self, name: str) -> None:
        if self.exists(name):
            self.fs.delete(self._dir(name))
        self._sidecar_tables.discard(name)
        self._dv_cache_purge(name)
        with self._meta_cache_mu:
            self._meta_cache.pop(name, None)

    # column types analyze() computes full stats for (orderable atomics);
    # anything else gets null counts only
    _ANALYZE_TYPES = (
        T.ByteType,
        T.ShortType,
        T.IntegerType,
        T.LongType,
        T.FloatType,
        T.DoubleType,
        T.StringType,
        T.BooleanType,
        T.DateType,
        T.TimestampType,
        T.TimestampNTZType,
    )

    def analyze(self, name: str, columns: list[str] | None = None, k: int = 256) -> dict:
        """ANALYZE TABLE: row count plus per-column null count, min/max,
        and a KMV distinct-count estimate (ops/sketch.py, sketch size
        ``k``), persisted into the manifest (``table_stats``, stamped
        with the version analyzed) and returned. Two passes over the
        table: one codegen aggregate for count/nulls/min-max, and ONE
        shared shuffle for every column's distinct sketch (the per-column
        hashes are exploded into (column, hash) pairs first, so adding
        columns adds no stages). Non-orderable columns get null counts
        only.

        On PK tables the output additionally carries ``pk_duplicates``:
        physical rows beyond one per primary key among COMMITTED
        generations — cross-partition shadows: a key whose
        partition-key value changed between upserts leaves its stale
        copy in a base partition no pruned optimize() reads (the
        Hudi non-global-index hazard; update_where's partition-moving
        path avoids it by construction, but a caller driving upsert()
        directly with unstable partition values can still produce one).
        Pending deltas are EXCLUDED from the count rather than gating it
        (r13: a same-PK delta legitimately shadows its base row between
        upsert and optimize, but withholding the metric entirely meant a
        continuously-upserted table never ran the shadow check again).
        Non-zero means the table needs an ``optimize(full=True)``."""
        from .ops.sketch import kmv_distinct

        meta = self._load_meta(name)
        names = [f.name for f in meta.schema.fields]
        cols = list(columns) if columns is not None else names
        for c in cols:
            if c not in names:
                raise ValueError(f"unknown column {c!r} in analyze")
        orderable = [
            c for c in cols if isinstance(meta.schema[c].dataType, self._ANALYZE_TYPES)
        ]
        df = self._read_raw(name, meta).drop(_SEQ_COL)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs.append(F.count(_col(c)).alias(f"__ct__{c}"))
        for c in orderable:
            aggs += [F.min(_col(c)).alias(f"__mn__{c}"), F.max(_col(c)).alias(f"__mx__{c}")]
        r = df.agg(*aggs).collect()[0]
        rows = r["__rows"]
        # one shared sketch pass: (column name, value) pairs — every
        # column's distinct sketch rides the same shuffle
        if orderable and rows:
            pairs = df.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("column"),
                                _col(c).cast("string").alias("val"),
                            )
                            for c in orderable
                        ]
                    )
                ).alias("p")
            ).select("p.column", "p.val")
            dists = {
                row.column: row.distinct_est
                for row in kmv_distinct(pairs, ["column"], "val", k=k).collect()
            }
        else:
            dists = {}
        out: dict = {"as_of_version": meta.version, "rows": rows, "columns": {}}
        sat = self._bloom_saturation(meta)
        if sat:
            out["bloom_saturated"] = sat
        if meta.deletion_vectors or meta.dv_sidecars:
            # deletion-vector pressure + routing summary (r14) — all
            # manifest-side, no data read: how close the table is to
            # the vector budget (past it, deletes force a rewrite) and
            # how its touched files will route at read time. files_*
            # are None when per-file evidence is incomplete (capped
            # entries) — the reader then keeps the anti-join.
            inline, side = self._dv_position_totals(meta)
            dv: dict = {
                "positions": inline + side,
                "positions_inline": inline,
                "positions_sidecar": side,
                "sidecar_entries": len(meta.dv_sidecars),
                "budget": self._DV_AUTO_MAX_ROWS,
            }
            touched = self._dv_touched_files(meta)
            routing = self._dv_file_routing(meta)
            dv["files_touched"] = len(touched) if touched is not None else None
            if routing is not None:
                dv["files_dead"] = sum(
                    1 for v in routing.values() if v[0] == "dead"
                )
                dv["files_range_eligible"] = sum(
                    1 for v in routing.values() if v[0] == "range"
                )
            else:
                dv["files_dead"] = dv["files_range_eligible"] = None
            out["deletion_vectors"] = dv
        if meta.primary_keys:
            # pending-work context FIRST (r12 advice): between upsert and
            # optimize a same-PK delta legitimately shadows its base row,
            # so a duplicate count over ALL rows would false-alarm. The
            # shadow diagnostic counts duplicates among COMMITTED
            # generations only (r13 review find: the r12 cut skipped the
            # check whenever any delta was pending, so a continuously-
            # upserted table never ran it again) — a stranded shadow is
            # by definition intra-committed; delta-vs-base copies are
            # the legitimate pending class the gate existed to exclude.
            out["pending_deltas"] = len(meta.live_deltas)
            out["dirty_partitions"] = len(meta.dirty_partitions)
            if rows:
                base = self._read_raw(name, meta)
                if meta.live_deltas:
                    base = base.filter(
                        ~F.col(_SEQ_COL).isin(
                            [int(s) for s in meta.live_deltas]
                        )
                    )
                    n_committed = base.count()
                else:
                    # no pending deltas ⇒ committed rows ≡ the table's
                    # rows, already counted by the shared agg pass above
                    # (r13 advice: the unconditional count() was an extra
                    # full-table scan per analyze() on every clean table,
                    # the common steady state)
                    n_committed = rows
                n_keys = base.select(*meta.primary_keys).distinct().count()
                out["pk_duplicates"] = n_committed - n_keys
        for c in cols:
            ent: dict = {"nulls": rows - r[f"__ct__{c}"]}
            if c in orderable:
                ent["min"] = _stat_encode(r[f"__mn__{c}"])
                ent["max"] = _stat_encode(r[f"__mx__{c}"])
                ent["distinct_est"] = dists.get(c, 0.0)
            out["columns"][c] = ent
        meta.table_stats = out
        self._commit_meta(meta, None, action="analyze")
        return out

    @staticmethod
    def _bloom_saturation(meta: TableMeta, factor: float = 4.0) -> dict:
        """Saturated-Bloom diagnostic (r12 — the m-cap overflow surface):
        per-leaf ESTIMATED false-positive rate, ``(set_bits/m)^k``, for
        every leaf filter whose estimate exceeds ``factor`` × the
        table's target fpp. The auto-sizer caps m at 64× base as a
        deliberate manifest-size bound, so a pathologically dense leaf
        (≫ ~2M values at defaults) silently degrades from ~1% toward
        100% FPR — pruning weakens but stays CORRECT. This surfaces
        exactly those leaves so operators can recreate with a bigger
        ``bloom_m_bits`` or split ingest batches, instead of discovering
        the degradation as unexplained scan fan-out. Driver-side popcount
        over words already in the manifest — no data is read."""
        if not meta.bloom_columns or not meta.zone_maps:
            return {}
        # fpp None — key absent (legacy table predating auto-sizing) or
        # explicitly pinned to fixed m — means the operator chose their
        # own m with no FPR target on record: there is nothing sound to
        # compare density against, so the diagnostic stays silent
        # (r12 advice: the old `or`-fallback to the 1% default spuriously
        # flagged hand-tuned looser-FPR tables, and `or` also treated an
        # explicit falsy property as absent)
        target = meta.properties.get("bloom.fpp")
        if target is None:
            return {}
        threshold = min(1.0, factor * float(target))
        sat: dict = {}
        for leaf, stats in meta.zone_maps.items():
            for key, ent in stats.items():
                if not key.endswith("#bloom"):
                    continue
                try:
                    m_bits, kk, words = int(ent[0]), int(ent[1]), ent[2]
                    banks = int(ent[3]) if len(ent) > 3 else 1
                    if banks <= 1:
                        set_bits = sum(
                            bin(b & ((1 << 64) - 1)).count("1")
                            for b in words.values()
                        )
                        est = (set_bits / m_bits) ** kk
                    else:
                        # banked leaf (r13): a probe checks only its own
                        # bank, so the per-value FPR is the MEAN of the
                        # per-bank estimates (bank assignment is uniform)
                        wpb = m_bits // 64
                        per = [0] * banks
                        for wk, b in words.items():
                            per[int(wk) // wpb] += bin(
                                b & ((1 << 64) - 1)
                            ).count("1")
                        est = sum((s / m_bits) ** kk for s in per) / banks
                except (TypeError, ValueError, IndexError, ZeroDivisionError):
                    continue  # malformed entry: scan() ignores it too
                if est > threshold:
                    sat[f"{leaf}:{key[: -len('#bloom')]}"] = round(est, 4)
        return sat

    def get_properties(self, name: str) -> dict:
        return dict(self._load_meta(name).properties)

    def table_changes(
        self, name: str, since_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change-data-feed between two retained snapshots (the Delta CDF
        shape), DERIVED by primary-key diff rather than stored per
        commit: rows only in the new snapshot are ``insert``, rows only
        in the old are ``delete``, PK matches whose value columns differ
        emit ``update_preimage`` + ``update_postimage``. Output = the
        table columns plus ``_change_type``.

        Scale shape: the manifests PROVE which partitions can differ —
        generations are immutable, so any partition whose committed
        pointer is identical in both manifests (and that no live delta
        touches in either) is bit-for-bit unchanged and is pruned from
        BOTH sides before the diff join. The PK-hash shuffle therefore
        covers only partitions a change actually touched: cost ∝ the
        changed partitions, independent of table size AND of how many
        commits lie between the versions. Requires primary keys and
        ``retain_versions`` covering ``since_version``."""
        meta = self._load_meta(name)
        if not meta.primary_keys:
            raise ValueError(f"table_changes needs primary keys on {name!r}")
        pk = list(meta.primary_keys)
        cols = meta.schema.fieldNames()
        value_cols = [c for c in cols if c not in pk]

        old_meta = self._version_meta(name, since_version)
        new_meta = (
            self._version_meta(name, to_version)
            if to_version is not None
            else meta
        )

        if (
            meta.partition_keys
            and not old_meta.all_dirty
            and not new_meta.all_dirty
        ):
            # manifest-proven change pruning (see docstring): only rels
            # whose pointer moved, that a live delta touches, OR whose
            # deletion vectors differ (a DV-only commit moves NO
            # pointers — without this clause a metadata delete was
            # invisible to the pruned CDC path, r11 review find) can
            # hold any difference. Pruning is at the PATH level —
            # unchanged partitions are never even listed.
            changed = {
                rel
                for rel in set(old_meta.committed) | set(new_meta.committed)
                if old_meta.committed.get(rel) != new_meta.committed.get(rel)
            }
            changed |= set(old_meta.dirty_partitions)
            changed |= set(new_meta.dirty_partitions)
            changed |= {
                _uri_unquote(k.rsplit("/", 1)[0].partition("/")[2])
                for k in set(old_meta.deletion_vectors)
                | set(new_meta.deletion_vectors)
                if old_meta.deletion_vectors.get(k)
                != new_meta.deletion_vectors.get(k)
            }
            # sidecar vectors (r12): same invisibility hazard as inline —
            # a sidecar-only commit moves no pointers. Entries present in
            # exactly one snapshot contribute their files' rels (one tiny
            # distinct read per differing sidecar; both snapshots are
            # within the retain window, so the files are alive).
            side_diff = [
                e
                for e in old_meta.dv_sidecars + new_meta.dv_sidecars
                if (e in old_meta.dv_sidecars) != (e in new_meta.dv_sidecars)
            ]
            if side_diff:
                if all(e[3] is not None for e in side_diff):
                    changed |= {r for e in side_diff for r in e[3]}
                else:
                    # rel list capped/absent: one tiny distinct read
                    changed |= self._sidecar_rels(name, side_diff)
            if not changed:
                out_schema = T.StructType(
                    meta.schema.fields
                    + [T.StructField("_change_type", T.StringType())]
                )
                return self.spark.createDataFrame([], out_schema)
            old_df = self._read_rels(name, old_meta, changed)
            new_df = self._read_rels(name, new_meta, changed)
        else:
            old_df = self._read_raw(name, old_meta)
            new_df = self._read_raw(name, new_meta)

        def _latest(df: DataFrame) -> DataFrame:
            # absorb un-optimized deltas: the snapshot's LOGICAL content is
            # the newest row per PK, exactly what optimize() would keep —
            # diffing raw rows would fan out the PK join on duplicates
            return self._keep_latest(df, pk).drop(_SEQ_COL)

        old = _latest(old_df).withColumn("_o", F.lit(1))
        new = _latest(new_df).withColumn("_n", F.lit(1))
        o_vals = old.select(
            *pk, *[_col(c).alias(f"_old_{c}") for c in value_cols], "_o"
        ).alias("_ocdc")
        n_vals = new.select(
            *pk, *[_col(c).alias(f"_new_{c}") for c in value_cols], "_n"
        ).alias("_ncdc")
        # null-safe PK equality: NULL keys must pair up, not appear as
        # a spurious insert+delete
        cond = F.lit(True)
        for k in pk:
            cond = cond & F.col(f"_ncdc.{k}").eqNullSafe(F.col(f"_ocdc.{k}"))
        j = n_vals.join(o_vals, cond, "full_outer").select(
            *[
                F.coalesce(F.col(f"_ncdc.{k}"), F.col(f"_ocdc.{k}")).alias(k)
                for k in pk
            ],
            *[_col(f"_new_{c}") for c in value_cols],
            *[_col(f"_old_{c}") for c in value_cols],
            "_n",
            "_o",
        )
        same = F.lit(True)
        for c in value_cols:
            same = same & _col(f"_new_{c}").eqNullSafe(_col(f"_old_{c}"))

        def _emit(side: str, rows: DataFrame, tag: str) -> DataFrame:
            return rows.select(
                *pk,
                *[_col(f"_{side}_{c}").alias(c) for c in value_cols],
                F.lit(tag).alias("_change_type"),
            )

        inserts = _emit("new", j.filter(F.col("_o").isNull()), "insert")
        deletes = _emit("old", j.filter(F.col("_n").isNull()), "delete")
        updated = j.filter(
            F.col("_o").isNotNull() & F.col("_n").isNotNull() & ~same
        )
        pre = _emit("old", updated, "update_preimage")
        post = _emit("new", updated, "update_postimage")
        out = inserts.unionByName(deletes).unionByName(pre).unionByName(post)
        return out.select(*[_col(c) for c in cols], "_change_type")

    # -- DML ---------------------------------------------------------------
    def _seq_dir(self, name: str, seq: int) -> str:
        return f"{self._dir(name)}/data/{_SEQ_COL}={seq}"

    def _write_seq(self, name: str, meta: TableMeta, df: DataFrame, seq: int) -> str | None:
        """Write one immutable ``_seq=K`` generation. ``seq`` comes from
        ``_reserve_seq``, so the directory is uniquely this attempt's; the
        clear-first is belt-and-braces against leftovers under a manually
        recycled number.

        Returns the path of an attempt-token file dropped into the written
        directory (underscore-prefixed, so parquet readers ignore it), or
        None for an empty batch that wrote no directory. ``_commit_meta``
        re-checks the token at commit as defense in depth — with reserved
        sequence numbers a vanished token can only mean external
        interference with this generation's directory."""
        self.fs.delete(self._seq_dir(name, seq))
        writer = df.withColumn(_SEQ_COL, F.lit(seq)).write.mode("append")
        writer = writer.partitionBy(_SEQ_COL, *meta.partition_keys)
        writer.parquet(f"{self._dir(name)}/data")
        if not self.fs.exists(self._seq_dir(name, seq)):
            return None
        token = f"{self._seq_dir(name, seq)}/_attempt-{uuid.uuid4().hex}"
        self.fs.write_text(token, "")
        return token

    def _gen_rels(self, name: str, meta: TableMeta, seq: int) -> list[str]:
        """The partition leaves generation ``seq`` holds, read off its
        immutable directory (one driver glob, no Spark job; ``[""]`` on
        an unpartitioned table)."""
        depth = len(meta.partition_keys)
        if not depth:
            return [""]
        pattern = "/".join(["*=*"] * depth)
        return sorted(
            self.fs.glob_dir_leaves(f"{self._seq_dir(name, seq)}/{pattern}", depth)
        )

    def _spark_written(
        self, name: str, meta: TableMeta, seq: int, token, per_file: bool = False
    ) -> "tuple[list[str], dict[str, dict]]":
        """(rels, zone entries) of the generation a Spark job just wrote,
        for ``_commit_append`` / ``_commit_replace``. The rels are the
        hive directories the write created, not a second run of the
        input plan; an empty batch (``token`` None) wrote nothing."""
        if token is None:
            return [], {}
        rels = self._gen_rels(name, meta, seq)
        return rels, self._collect_zone_maps(name, meta, seq, rels, per_file)

    def _commit_append(
        self,
        name: str,
        meta: TableMeta,
        before: TableMeta,
        seq: int,
        token: "str | None",
        rels: "list[str]",
        zone: "dict[str, dict]",
        mode: str,
    ) -> None:
        """Commit generation ``seq`` as a live delta: the one commit of
        ``insert`` and its driver-side fast path. ``rels`` are the
        partitions the delta marks dirty (``""`` = an unpartitioned
        table, so all of it) and ``zone`` its zone-map entries; both are
        empty, and ``token`` None, for an empty batch, which must not
        enter the manifest. ``mode='overwrite'`` first forgets every
        prior generation (they become vacuumable orphans).

        An append commutes with any structure-preserving concurrent
        commit, so losing the PUT race rebases instead of raising. The
        rebase replays the dirty set from ``rels`` (see
        ``_make_rebase``)."""
        if mode != "append":
            meta.committed = {}
            meta.live_deltas = []
            meta.dirty_partitions = []
            meta.all_dirty = False
        dirty = self._stage_delta(meta, seq, token, rels, zone)
        self._prune_zone_maps(meta)
        self._prune_deletion_vectors(meta)
        rebase = (
            self._make_rebase(
                before,
                meta,
                "append",
                delta_rels=dirty,
                delta_all_dirty="" in rels,
            )
            if mode == "append"
            else None
        )
        self._commit_meta(meta, token, action=f"insert({mode})", rebase=rebase)

    @staticmethod
    def _stage_delta(
        meta: TableMeta,
        seq: int,
        token: "str | None",
        rels: "list[str]",
        zone: "dict[str, dict]",
    ) -> "list[str]":
        """Add generation ``seq`` to ``meta`` as a live delta: the one
        place a write lists a delta, shared by ``_commit_append`` and
        the vector writer's update. Marks ``rels`` dirty (``""`` = the
        whole table) and records ``zone``; an empty batch (``token``
        None) only advances ``next_seq``. Returns the sorted dirty
        partition rels."""
        if token is not None:
            meta.live_deltas.append(seq)
        meta.next_seq = max(meta.next_seq, seq + 1)
        dirty = sorted(r for r in set(rels) if r)
        seen = set(meta.dirty_partitions)
        meta.dirty_partitions += [r for r in dirty if r not in seen]
        if "" in rels:
            meta.all_dirty = True
        meta.zone_maps.update(zone)
        return dirty

    def _commit_replace(
        self,
        name: str,
        meta: TableMeta,
        before: TableMeta,
        seq: int,
        token: "str | None",
        rels: "list[str]",
        zone: "dict[str, dict]",
        scope: "set[str] | None",
        action: str,
    ) -> None:
        """Commit generation ``seq`` as the new base of the partition
        ``scope`` it was rewritten from (``None``: the whole table, and
        every unpartitioned rewrite): the one commit of optimize/
        compact, ``delete_where``, ``update_where``'s rewrite and the
        upsert fast path. ``rels`` are the leaves the write created and
        ``zone`` their zone-map entries. In one manifest PUT: the written
        leaves are repointed, the scope's emptied partitions dropped,
        every live delta absorbed, superseded zone maps and vectors
        pruned; superseded generation dirs are deleted after the commit
        (a crash there only leaves vacuumable orphans).

        Two guards hold for every caller:

        - output outside the scope is refused and nothing is committed.
          The op read only the scope, so repointing a partition outside
          it would replace that partition's base with a leaf holding only
          the new rows (a nondeterministic partition-key assignment or
          predicate produces this);
        - a scope partition the write left empty is dropped only with
          EVIDENCE the op read its rows: the emptied candidates'
          pre-rewrite dirs read UNMASKED through the same ``_rel_filter``
          the op's read used. ``_rel_filter`` matches strings, so if it
          ever under-selected a rel, an unguarded drop would turn
          "partition left unrewritten" into silent loss of its rows.
          Unmasked, so a fully vector-deleted partition still shows its
          on-disk rows and drops. The evidence costs one column-pruned
          distinct over the candidates, only when a partition empties;
          a whole-table scope read with no partition filter and needs
          none.

        The rebase re-applies this commit over a rival's only when the
        rival touched none of the scope (``_make_rebase`` kind
        ``'rmw'``)."""
        written = set(rels)
        stray = written - scope if scope is not None else set()
        if stray:
            self.fs.delete(self._seq_dir(name, seq))
            raise ValueError(
                f"{action} on {name!r}: the rewrite landed rows in "
                f"partitions its read never covered ({sorted(stray)[:3]}...) "
                "— partition-key assignments and predicates must be "
                "deterministic on the rewrite path; nothing was committed"
            )
        old_committed = dict(meta.committed)
        old_deltas = list(meta.live_deltas)
        emptied = set(old_committed) if scope is None else scope & set(old_committed)
        emptied -= written
        if emptied and scope is not None:
            ev = self._read_raw_unmasked(name, before).filter(
                self._rel_filter(before, sorted(emptied))
            )
            emptied &= self._rels_of(ev, before.partition_keys)
        for rel in written:
            meta.committed[rel] = seq
        for rel in emptied:
            meta.committed.pop(rel)
        meta.live_deltas = []
        meta.dirty_partitions = []
        meta.all_dirty = False
        meta.next_seq = max(meta.next_seq, seq + 1)
        meta.zone_maps.update(zone)
        self._prune_zone_maps(meta)
        self._prune_deletion_vectors(meta)
        rebase = self._make_rebase(before, meta, "rmw", base_rels=scope)
        meta = self._commit_meta(meta, token, action, rebase=rebase)
        self._clean_superseded(name, meta, old_committed, old_deltas)

    @staticmethod
    def _rels_of(df: DataFrame, keys: "list[str]") -> "set[str]":
        """The hive rels ``df``'s rows live in: one column-pruned distinct
        over ``CAST(key AS STRING)``, Spark's own directory spelling, so
        the rels equal the written and committed keys for every type
        (Python ``str(0.0001)`` vs Java ``1.0E-4`` would not)."""
        return {
            _hive_rel(keys, tuple(r))
            for r in df.select([_col(k).cast("string").alias(k) for k in keys])
            .distinct()
            .collect()
        }

    def insert(
        self,
        name: str,
        df: DataFrame,
        mode: str = "append",
        allow_fast: bool = True,
        extra_dirty_rels: list[str] | None = None,
    ) -> None:
        """Append a batch as a new ``_seq=K`` delta directory (the sequence
        also orders keep-latest dedup). ``mode='overwrite'`` truncates:
        the manifest forgets all prior generations, whose directories
        become vacuumable orphans.

        Small batches take the driver-side fast path (same probe + pyarrow
        write as the upsert fast path, minus any merge — an insert never
        reads existing data), skipping the distributed write job whose
        fixed cost dominates tiny appends. ``allow_fast=False`` skips the
        probe — upsert() passes it when its own probe already rejected
        the batch, so a large upstream plan isn't executed twice.

        ``extra_dirty_rels`` (internal, r12): additional partition rels
        marked dirty IN THE SAME COMMIT as the delta — update_where's
        partition-moving PK path uses it so the moved rows' SOURCE
        partitions are guaranteed to ride the same optimize() that
        absorbs the delta (two separate commits would let a rival
        optimize absorb the delta alone and strand the stale source
        copy forever)."""
        meta = self._load_meta(name)
        before = self._snapshot_meta(meta)
        if extra_dirty_rels:
            allow_fast = False  # the fast path has no extra-rel plumbing
        if allow_fast:
            # same no-double-execution guarantee as upsert(): probe and
            # fallback write share one input (no-op for a df upsert()
            # already checkpointed — its plan is a plain RDD scan)
            df = self._shared_probe_input(df)
            if self._fast_insert(name, meta, df, mode, before):
                return
        declared = meta.schema
        cols = [_col(f.name).cast(f.dataType).alias(f.name) for f in declared.fields]
        seq = self._reserve_seq(name, meta)
        token = self._write_seq(name, meta, df.select(*cols), seq)
        rels, zone = self._spark_written(name, meta, seq, token)
        if rels and extra_dirty_rels:
            rels = rels + list(extra_dirty_rels)
        self._commit_append(name, meta, before, seq, token, rels, zone, mode)

    def _rel_filter(self, meta: TableMeta, rels) -> "F.Column | None":
        """Partition-pruning predicate selecting exactly the given hive rel
        dirs (the ``dirty_partitions`` representation, e.g. ``year=2024``).

        Spark builds partition directory names as hive-escaped
        ``CAST(col AS STRING)`` (PartitioningUtils.partitionPathExpression),
        so comparing ``CAST(col AS STRING)`` against the unescaped directory
        value matches exactly the rows that live in that directory — for
        every type spelling (double ``1.0E-4``, fractional-second
        timestamps, ...) and with no literal-parse step that could go NULL
        and silently drop a partition from a rewrite. The predicate only
        references partition attributes, so it still prunes at the scan.

        Shape matters at wide ingests: a single-key rel set becomes ONE
        ``isin`` (Catalyst's In/InSet — constant plan depth, hashed
        lookup past 10 values), and a multi-key rel set becomes ONE
        ``named_struct(keys...) IN (struct literals...)`` expression,
        built as a single SQL string and parsed once (r17, guide §5
        driver work: the r10-r16 shape built per-rel conjunctions
        through ~9 py4j round-trips each and OR-folded them into a
        3·|rels|-node tree — at 4k dirty partitions that was ~36k py4j
        calls plus a six-figure-node Catalyst optimization, ~170 s of
        pure driver time for one predicate; the IN form is one parse,
        one InSet conversion, constant plan depth at any width). Rels
        containing the null/empty sentinel can't use plain struct
        equality (NULL never equals) and keep the conjunction fallback —
        they are bounded by the null-combination count, not the ingest
        width. The original left-deep ``a|b|c|...`` chain overflowed the
        JVM thread stack in the recursive column-node conversion around
        ~500 dirty partitions — a day's ingest footprint at 100 TB, not
        an edge case."""
        rels = list(rels)
        keys = meta.partition_keys
        if len(keys) == 1 and rels:
            k = _col(keys[0])
            vals = [_unescape_partition_value(r.partition("=")[2]) for r in rels]
            present = [v for v in vals if v is not None]
            cond = None
            if present:
                cond = k.cast("string").isin(present)
            if len(present) < len(vals):  # a null/empty sentinel dir
                nullc = k.isNull() | (k.cast("string") == F.lit(""))
                cond = nullc if cond is None else (cond | nullc)
            return cond

        def _sql_str(v: str) -> str:
            # Spark SQL string literal: escape backslash and single quote
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

        plain_tuples: list[list[str]] = []
        fallback_rels: list[list[tuple[str, str | None]]] = []
        for rel in rels:
            comps = []
            for comp in rel.split("/"):
                # Spark hive-escapes key names in directory names too
                k, _, raw = comp.partition("=")
                comps.append((_unescape_partition_value(k), _unescape_partition_value(raw)))
            if (
                len(comps) == len(keys)
                and all(k == mk for (k, _), mk in zip(comps, keys))
                and all(v is not None for _, v in comps)
            ):
                plain_tuples.append([v for _, v in comps])
            else:
                fallback_rels.append(comps)
        conds = []
        if plain_tuples:
            lhs = (
                "named_struct("
                + ", ".join(
                    f"{_sql_str(k)}, cast({_sql_ident(k)} as string)" for k in keys
                )
                + ")"
            )
            lits = ", ".join(
                "named_struct("
                + ", ".join(
                    f"{_sql_str(k)}, {_sql_str(v)}" for k, v in zip(keys, tup)
                )
                + ")"
                for tup in plain_tuples
            )
            conds.append(F.expr(f"{lhs} IN ({lits})"))
        for comps in fallback_rels:
            cond = F.lit(True)
            for k, v in comps:
                if v is None:
                    # null and empty string share the sentinel directory
                    c = _col(k).isNull() | (_col(k).cast("string") == F.lit(""))
                else:
                    c = _col(k).cast("string") == F.lit(v)
                cond = cond & c
            conds.append(cond)
        while len(conds) > 1:  # balanced OR fold: depth O(log n)
            conds = [
                conds[i] | conds[i + 1] if i + 1 < len(conds) else conds[i]
                for i in range(0, len(conds), 2)
            ]
        return conds[0] if conds else None

    # -- zone maps ---------------------------------------------------------
    @staticmethod
    def _zone_key(seq: int, rel: str) -> str:
        return f"{_SEQ_COL}={seq}" + (f"/{rel}" if rel else "")

    def _row_stats(self, meta: TableMeta, r) -> dict[str, list]:
        stats: dict[str, list] = {}
        for c in meta.stats_columns:
            if r[f"__ct__{c}"] == 0:
                stats[c] = [None, None]  # no non-null values: provably empty
                continue
            emn, emx = _stat_encode(r[f"__mn__{c}"]), _stat_encode(r[f"__mx__{c}"])
            if emn is not None and emx is not None:
                stats[c] = [emn, emx]
        return stats

    def _collect_zone_maps(
        self,
        name: str,
        meta: TableMeta,
        seq: int,
        rels: "list[str]",
        per_file: bool = False,
    ) -> dict[str, dict[str, list]]:
        """Per-leaf min/max of the stats columns for one freshly written
        generation (whose leaves are ``rels``) — a column-pruned
        aggregate over ONLY that generation's files (grouped by partition
        value), so the cost scales with the batch just written, never the
        table. Parquet min/max footers make
        this a near-metadata read for the scan side of the agg.

        r16: EVERY table (stats columns or not) additionally gets
        per-file INVENTORY keys (empty stats dicts) for the
        generation's files — the writer knows every file it commits,
        and carrying them in the manifest deletes the LIST from the
        read path: the DV file split confines at file granularity with
        zero listing calls at any dir count (r15 proved the mechanism
        on z-ordered generations; this generalizes it), and scan()
        replaces each leaf's LIST with the manifest enumeration.
        ``per_file=True`` generations (Z-ordered compactions) already
        enumerate every file through the stats agg / explicit count
        job, so inventory is only collected for leaf-granularity
        generations."""
        seq_dir = self._seq_dir(name, seq)
        if not (meta.stats_columns or meta.bloom_columns):
            return self._collect_file_inventory(name, meta, seq, rels)
        schema_with_seq = T.StructType(
            meta.schema.fields + [T.StructField(_SEQ_COL, T.LongType(), True)]
        )
        df = (
            self.spark.read.schema(schema_with_seq)
            .option("basePath", f"{self._dir(name)}/data")
            .parquet(seq_dir)
        )
        out: dict[str, dict[str, list]] = {}
        # group by CAST(key AS STRING) — Spark's own hive-dir spelling,
        # so the rebuilt rel strings match the directories exactly
        grp = [_col(k).cast("string").alias(k) for k in meta.partition_keys]
        if per_file:
            # file-granularity stats (Z-ordered compactions): one zone
            # entry per output file, keyed leaf/<filename>
            grp = grp + [F.input_file_name().alias("__file")]

        def row_key(r) -> str:
            rel = _hive_rel(
                meta.partition_keys, tuple(r[k] for k in meta.partition_keys)
            )
            key = self._zone_key(seq, rel)
            if per_file:
                key = f"{key}/{r['__file'].rsplit('/', 1)[1]}"
            return key

        if meta.stats_columns:
            aggs = []
            for c in meta.stats_columns:
                aggs += [
                    F.min(_col(c)).alias(f"__mn__{c}"),
                    F.max(_col(c)).alias(f"__mx__{c}"),
                    F.count(_col(c)).alias(f"__ct__{c}"),
                ]
            if grp:
                for r in df.groupBy(*grp).agg(*aggs).collect():
                    out[row_key(r)] = self._row_stats(meta, r)
            else:
                r = df.agg(*aggs).collect()[0]
                out[self._zone_key(seq, "")] = self._row_stats(meta, r)
        if per_file and not meta.stats_columns:
            # scan() treats a leaf's per-file key list as the COMPLETE
            # file enumeration (it replaces the leaf's LIST call), and
            # the bloom cells job below only names files with ≥1
            # non-null value — an all-NULL file would silently vanish
            # from every scan. With stats_columns the min/max agg names
            # every file; without them, enumerate explicitly.
            for r in df.groupBy(*grp).agg(F.count(F.lit(1)).alias("__n")).collect():
                out.setdefault(row_key(r), {})
        if meta.bloom_columns:
            # one extra codegen job over the freshly written generation:
            # every value explodes to its k (column, position) cells,
            # which bit_or into a per-leaf sparse word map — cost ∝ the
            # batch, never the table (the same shape ops/sketch.py::
            # bloom_build distributes; here each leaf's filter is small
            # enough to collect). NULLs contribute nothing, so an
            # all-NULL leaf simply has no entry and never prunes.
            from .ops.sketch import _bloom_positions

            m_base = int(meta.properties.get("bloom.m_bits", _BLOOM_DEFAULT_M))
            kk = int(meta.properties.get("bloom.k", _BLOOM_DEFAULT_K))
            # a MISSING bloom.fpp key (table created before auto-sizing
            # existed) means fixed m — the table's original contract —
            # not the new default; create() always stores the key
            # explicitly for tables that opt in
            fpp = meta.properties.get("bloom.fpp")
            # auto-sizing: the job computes positions at the lattice TOP
            # (m_base * cap_mult) and folds each leaf's words down to its
            # auto-chosen m IN THE JOB — exact because position = H mod m
            # and (H mod cap) mod m == H mod m for every lattice m. The
            # leaf's value count falls out of the same aggregation for
            # free: every non-null value contributes exactly k cell rows,
            # so n = sum(cell counts) / k, no extra pass over the batch —
            # and the driver collects at most m_leaf/64 words per
            # leaf/column, never the 64x lattice-top word set.
            m_bits = m_base * _BLOOM_AUTO_CAP_MULT if fpp is not None else m_base

            def _bank_col(cname):
                # per-VALUE bank hash at the fixed mod-_BLOOM_MAX_BANKS
                # top (r13) — folded down to each leaf's chosen B after
                # the window, exactly like the word fold-down; the md5
                # construction mirrors _bloom_bank_of with index token
                # 'b'. Fixed-m tables (fpp None) never bank: constant 0.
                if fpp is None:
                    return F.lit(0).cast("long")
                return F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col(cname).cast("string"),
                                    F.lit(_BLOOM_SALT),
                                    F.lit("b"),
                                )
                            ),
                            1,
                            12,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(_BLOOM_MAX_BANKS),
                )

            def _tagger(cname):
                # NOT a default-arg lambda: F.transform treats a 2-arg
                # callable as (element, index) and would pass the array
                # index into the second parameter
                bank = _bank_col(cname)
                return lambda p: F.struct(
                    F.lit(cname).alias("c"), p.alias("pos"), bank.alias("bk")
                )

            tagged = [
                F.transform(_bloom_positions(c, kk, m_bits, _BLOOM_SALT), _tagger(c))
                for c in meta.bloom_columns
            ]
            # grp expressions (incl. input_file_name, which only resolves
            # against the scan) are computed in THIS select; the groupBy
            # then references the materialized column NAMES
            grp_names = list(meta.partition_keys) + (["__file"] if per_file else [])
            cells = (
                df.select(
                    *grp,
                    F.explode(
                        F.concat(*tagged) if len(tagged) > 1 else tagged[0]
                    ).alias("__e"),
                )
                .filter(F.col("__e.pos").isNotNull())
                .groupBy(
                    *grp_names,
                    F.col("__e.c").alias("__bc"),
                    F.col("__e.bk").alias("__bk"),
                    (F.col("__e.pos") / F.lit(64)).cast("long").alias("__bw"),
                )
                .agg(
                    F.expr(
                        "bit_or(shiftleft(1L, cast(pmod(__e.pos, 64) as int)))"
                    ).alias("__bb"),
                    F.count(F.lit(1)).alias("__cn"),
                )
            )
            if fpp is not None:
                # distributed fold-down: per-(leaf, col) total cell count
                # over a window -> the same lattice pick _bloom_auto_m
                # makes (an ascending when-chain with IDENTICAL IEEE
                # comparisons: need = total/C is bit-equal to Python's
                # k*(total//k)/C because total is divisible by k), then
                # word w ORs into w mod m/64. The driver never sees
                # lattice-top-sized word sets.
                c_const = _bloom_fpp_denominator(kk, float(fpp))
                lattice, mv = [], m_base
                while mv <= m_base * _BLOOM_AUTO_CAP_MULT:
                    lattice.append(mv)
                    mv *= 2
                if c_const <= 0.0:  # fpp underflowed: cap everywhere
                    m_col = F.lit(lattice[-1])
                    nb_col = F.lit(_BLOOM_MAX_BANKS)
                else:
                    need = F.sum("__cn").over(
                        W.partitionBy(*grp_names, "__bc")
                    ) / F.lit(c_const)
                    m_col = F.when(need <= F.lit(lattice[0]), F.lit(lattice[0]))
                    for mv in lattice[1:-1]:
                        m_col = m_col.when(need <= F.lit(mv), F.lit(mv))
                    m_col = m_col.otherwise(F.lit(lattice[-1]))
                    # bank lattice past the m-cap (r13): same when-chain
                    # style, IDENTICAL IEEE comparisons to Python's
                    # _bloom_auto_banks (need <= cap * B)
                    nb_col = F.when(need <= F.lit(lattice[-1]), F.lit(1))
                    bv = 2
                    while bv < _BLOOM_MAX_BANKS:
                        nb_col = nb_col.when(
                            need <= F.lit(lattice[-1] * bv), F.lit(bv)
                        )
                        bv *= 2
                    nb_col = nb_col.otherwise(F.lit(_BLOOM_MAX_BANKS))
                cells = (
                    cells.withColumn("__m", m_col.cast("long"))
                    .withColumn("__nb", nb_col.cast("long"))
                    .groupBy(
                        *grp_names,
                        "__bc",
                        "__m",
                        "__nb",
                        F.pmod(F.col("__bk"), F.col("__nb")).alias("__fb"),
                        (F.col("__bw") % (F.col("__m") / F.lit(64)).cast("long")).alias("__fw"),
                    )
                    .agg(F.expr("bit_or(__bb)").alias("__bb"))
                )
                for r in cells.collect():
                    ent = out.setdefault(row_key(r), {})
                    nb = int(r["__nb"])
                    bloom = ent.setdefault(
                        f"{r['__bc']}#bloom",
                        [int(r["__m"]), kk, {}] + ([nb] if nb > 1 else []),
                    )
                    # banked entries key words GLOBALLY: bank * m/64 + w
                    gw = int(r["__fb"]) * (int(r["__m"]) // 64) + int(r["__fw"])
                    bloom[2][str(gw)] = int(r["__bb"])
            else:
                for r in cells.collect():
                    ent = out.setdefault(row_key(r), {})
                    bloom = ent.setdefault(f"{r['__bc']}#bloom", [m_bits, kk, {}])
                    bloom[2][str(r["__bw"])] = int(r["__bb"])
        if not per_file:
            # r16: leaf-granularity generations carry the per-file
            # inventory ALONGSIDE their leaf stats keys — scan() keeps
            # pruning on the leaf stats and uses the inventory only as
            # the file enumeration; the DV split uses it to confine
            # without LISTing
            out.update(self._collect_file_inventory(name, meta, seq, rels))
        return out

    #: most per-file INVENTORY keys one table's manifest may hold
    #: (r16): each is ~60 bytes of checkpointed metadata; past the cap
    #: new generations stop recording inventory (their leaves fall
    #: back to the read-path LIST under _DV_FILE_SPLIT_DIR_CAP — a
    #: cost, never a correctness loss). 64k keys ~= 4 MB of manifest,
    #: absorbed by the segmented log + columnar checkpoint the same
    #: way z-ordered per-file stats keys are; compaction re-shrinks
    #: the count by merging small generations. Measured cost
    #: (SCALING.md r16 inventory rung, 128 leaves x 32 generations =
    #: 4,096 keys, after the fs-layer os fast paths): +25 ms per
    #: 128-leaf commit (~0.2 ms/leaf — one driver LIST per freshly
    #: written leaf plus the larger manifest serialization; paid once
    #: at write, ∝ the batch; an object store pays its ~10-30 ms
    #: per-leaf LIST here instead of on every cold plan) and
    #: manifest load still <10 ms cold. The metadata FOOTPRINT is
    #: dominated not by the live manifest but by the per-version
    #: time-travel archive while the table sits BELOW
    #: _LOG_SEGMENT_THRESHOLD (full-manifest mode archives a complete
    #: copy per version — 5.2 MB over those 32 versions vs 62 KB
    #: without inventory), bounded by the retention window and gone
    #: once entry count crosses the threshold into per-key diff
    #: segments — which a 100 TB table's file count guarantees.
    _FILE_INVENTORY_CAP = 65536

    def _collect_file_inventory(
        self, name: str, meta: TableMeta, seq: int, rels: "list[str]"
    ) -> dict[str, dict]:
        """Per-file inventory zone keys (empty stats dicts) for one
        freshly written generation — pure DRIVER listing of exactly the
        batch's leaf dirs ``rels`` (no Spark job; the per-leaf LIST cost
        scales with the batch just written, never the table, and is
        paid ONCE at write time instead of on every read). Generations
        are immutable once committed, so the enumeration stays exact
        forever.

        Completeness contract (the consumers depend on it): a leaf's
        inventory names EVERY data file Spark's directory scan would
        read, or names nothing at all — `_dv_file_split` routes files
        missing from a leaf's inventory to NO branch (they'd silently
        vanish from reads), so a leaf holding any unrepresentable
        entry (a filename containing '=', which `_zone_key_file` must
        reject to stay distinguishable from hive segments, a
        non-parquet data file, or an unexpected subdirectory) records
        no inventory and keeps the read-path LIST. Hidden files
        (_SUCCESS, .crc) are skipped to match Spark's own scan filter.
        The cap bounds manifest growth; hitting it only costs later
        generations the LIST-free property."""
        seq_dir = self._seq_dir(name, seq)
        room = self._FILE_INVENTORY_CAP - sum(
            1 for zk in meta.zone_maps if _zone_key_file(zk) is not None
        )
        if room <= 0:
            return {}
        out: dict[str, dict] = {}
        complete = True
        for rel in rels:
            d = seq_dir if rel == "" else f"{seq_dir}/{rel}"
            names, has_sub = self.fs.list_dir(d)
            files = [fn for fn in names if not fn.startswith(("_", "."))]
            if (
                has_sub
                or not files
                or len(files) > room
                or any(
                    "=" in fn or not fn.endswith(".parquet") for fn in files
                )
            ):
                complete = False
                continue  # this leaf keeps the read-path LIST
            base = self._zone_key(seq, rel)
            for fn in files:
                out[f"{base}/{fn}"] = {}
            room -= len(files)
        if complete and meta.partition_keys and out:
            # every leaf recorded: the generation-completeness marker
            # lets the DV split expand the whole live-delta gen dir
            # into its leaves' files without any listing
            out[self._zone_key(seq, _INV_COMPLETE)] = {}
        return out

    def _arrow_leaf_stats(self, meta: TableMeta, table) -> dict[str, list]:
        """Zone-map stats for one leaf, computed in-memory from the arrow
        table the driver-side fast path is about to write — zero extra
        jobs, zero extra reads. Bloom entries use the same md5 positions
        as the Spark-job path (probe-identical: the scan can't tell which
        writer produced a leaf), with words normalized to signed 64-bit
        to match the JVM's bit_or output exactly."""
        import pyarrow.compute as pc

        stats: dict[str, list] = {}
        for c in meta.stats_columns:
            col = table.column(c)
            if len(col) - col.null_count == 0:
                stats[c] = [None, None]
                continue
            mm = pc.min_max(col)
            emn = _stat_encode(mm["min"].as_py())
            emx = _stat_encode(mm["max"].as_py())
            if emn is not None and emx is not None:
                stats[c] = [emn, emx]
        if meta.bloom_columns:
            m_base = int(meta.properties.get("bloom.m_bits", _BLOOM_DEFAULT_M))
            kk = int(meta.properties.get("bloom.k", _BLOOM_DEFAULT_K))
            # MISSING key = fixed m (pre-auto-sizing tables keep their
            # hand-tuned contract) — same rule as the Spark-job path
            fpp = meta.properties.get("bloom.fpp")
            for c in meta.bloom_columns:
                if c not in table.column_names:
                    continue
                vals = [
                    _bloom_value_str(v)
                    for v in table.column(c).to_pylist()
                    if v is not None
                ]
                # auto-size from THIS leaf's value count — positions are
                # computed at m_leaf directly, which equals the Spark-job
                # path's fold-down bit-for-bit ((H mod cap) mod m == H
                # mod m on the lattice), preserving probe-identicality;
                # past the cap the leaf BANKS (r13), with the same
                # (H mod MAX) mod B == H mod B fold identity
                m_bits = (
                    _bloom_auto_m(len(vals), m_base, kk, float(fpp))
                    if fpp is not None
                    else m_base
                )
                banks = (
                    _bloom_auto_banks(
                        len(vals), m_base * _BLOOM_AUTO_CAP_MULT, kk, float(fpp)
                    )
                    if fpp is not None
                    else 1
                )
                words: dict[str, int] = {}
                for sval in vals:
                    if sval is None:  # unrenderable value: leaf unprunable
                        words = {}
                        break
                    off = (
                        _bloom_bank_of(sval, banks) * (m_bits // 64)
                        if banks > 1
                        else 0
                    )
                    for pos in _bloom_probe_positions(sval, m_bits, kk):
                        w = str(off + pos // 64)
                        words[w] = words.get(w, 0) | (1 << (pos % 64))
                if words:
                    stats[f"{c}#bloom"] = [m_bits, kk, _signed_words(words)] + (
                        [banks] if banks > 1 else []
                    )
        return stats

    @staticmethod
    def _prune_zone_maps(meta: TableMeta) -> None:
        """Drop zone-map entries whose generation leaf is no longer visible
        in THIS manifest (superseded by compaction/overwrite/delete).
        Archived manifests keep their own zone_maps, so time-travel scans
        stay prunable too. Keys may be leaf-dir level (``_seq=3/year=2024``)
        or file level (``.../part-x.parquet``, written by Z-ordered
        compactions); a file key belongs to the leaf dir containing it."""
        if not meta.zone_maps:
            return
        live = set(meta.live_deltas)
        keep: dict[str, dict[str, list]] = {}
        for key, stats in meta.zone_maps.items():
            leaf = key.rsplit("/", 1)[0] if key.endswith(".parquet") else key
            head, _, rel = leaf.partition("/")
            try:
                s = int(head.split("=", 1)[1])
            except ValueError:
                continue
            if s in live or meta.committed.get(rel) == s:
                keep[key] = stats
        meta.zone_maps = keep

    @staticmethod
    def _prune_deletion_vectors(meta: TableMeta) -> None:
        """Twin of ``_prune_zone_maps`` for deletion vectors: a DV whose
        file's generation leaf is no longer visible (the partition was
        rewritten — optimize/compact/delete materialized the deletes)
        is dropped in the same commit. Inline keys are file-level;
        sidecar entries prune at generation granularity (an entry stays
        while ANY of its generations is visible — stale rows for files
        a partial rewrite replaced are never scanned, so they cost
        count conservatism, not correctness). FAIL-CLOSED (r12 advice):
        an entry whose key/seqs cannot be parsed is KEPT — on a
        delete-masking structure, dropping a malformed entry would
        silently resurrect deleted rows."""
        if not (meta.deletion_vectors or meta.dv_sidecars):
            return
        live = set(meta.live_deltas)
        keep: dict[str, list] = {}
        for key, ent in meta.deletion_vectors.items():
            leaf = key.rsplit("/", 1)[0]
            head, _, rel = leaf.partition("/")
            try:
                s = int(head.split("=", 1)[1])
            except (ValueError, IndexError):
                keep[key] = ent  # unparseable: keep — never un-delete
                continue
            # decode: committed rels are raw, the key rel is encoded —
            # without this a special-char partition's vector was DROPPED
            # while its file stayed visible (fail-OPEN, r13 review find)
            if s in live or meta.committed.get(_uri_unquote(rel)) == s:
                keep[key] = ent
        meta.deletion_vectors = keep
        if meta.dv_sidecars:
            vis = live | set(meta.committed.values())
            kept_sides = []
            for e in meta.dv_sidecars:
                try:
                    drop = not any(int(s) in vis for s in e[2])
                except (TypeError, ValueError, IndexError):
                    drop = False  # malformed: keep — never un-delete
                if not drop:
                    kept_sides.append(e)
            meta.dv_sidecars = kept_sides
        if meta.dv_file_rows:
            # per-file row counts follow their file's generation. The
            # fail direction INVERTS here: a dv_file_rows entry is not
            # a delete mask but a PROOF INPUT (rows == cumulative
            # positions ⇒ drop the file), so on any parse doubt the
            # entry is DROPPED — losing one only costs provability
            # (the file stays in the anti-join), keeping a wrong one
            # could prune a file with live rows
            vis = live | set(meta.committed.values())
            kept_rows: dict[str, int] = {}
            for f, n in meta.dv_file_rows.items():
                head = f.partition("/")[0]
                try:
                    if int(head.split("=", 1)[1]) in vis:
                        kept_rows[f] = n
                except (ValueError, IndexError):
                    pass
            meta.dv_file_rows = kept_rows

    #: delete_where(mode='auto') switches from deletion vectors to a
    #: partition rewrite past this many TOTAL vectored positions (per
    #: call and cumulative, inline + sidecars) — past it the broadcast
    #: anti-join's build side (~tens of MB at 1M positions) stops being
    #: cheap relative to rewriting the affected partitions. r12: raised
    #: 10× from the r11 manifest-inline bound, which now governs only
    #: the inline/sidecar split (_DV_INLINE_MAX_POSITIONS).
    _DV_AUTO_MAX_ROWS = 1_000_000
    #: positions carried base64-inline in the manifest; past this the
    #: positions land in an immutable parquet sidecar under <table>/dv/
    #: (executor-side build + apply, no driver collect) so the manifest
    #: stays O(pointers) however big the vectored set grows
    _DV_INLINE_MAX_POSITIONS = 100_000

    #: salt differentiating the second file-path join-key hash from the
    #: first (see _apply_dvs: the anti-join keys are two independent
    #: xxhash64 of the data-relative path + the row position)
    _DV_HASH_SALT = "#dvh2"

    #: schema of a DV sidecar parquet: data-relative file path + row pos
    _DV_SIDE_SCHEMA = T.StructType(
        [T.StructField("f", T.StringType()), T.StructField("p", T.LongType())]
    )
    #: most distinct partition rels a sidecar entry records inline for
    #: the read-path split; past this the entry stores None (= mask
    #: every partition) instead of bloating the manifest
    _DV_SIDECAR_REL_CAP = 10_000
    #: most distinct FILES a sidecar entry records inline for the
    #: file-level read split (r13); past this the entry stores None and
    #: readers fall back to directory-granularity confinement. Raised
    #: 256 -> 1024 in r15: the consolidated range scan makes
    #: many-hundreds-of-routed-files plans CHEAP to execute (one scan
    #: node), so the file list is worth carrying further — 1024 paths
    #: x ~(60 bytes + per-file stats) ~= 120 KB of manifest worst case,
    #: bounded by the merge-at-8 consolidation and absorbed by the
    #: segmented log + columnar checkpoint
    _DV_SIDECAR_FILE_CAP = 1024
    #: most vector-carrying directories ONE file split will LIST; past
    #: this the per-query driver listing cost outweighs the probe-row
    #: savings and the dir-level split stands for the remainder. r15:
    #: this is the split's internal budget for UNINVENTORIED leaves
    #: only — leaves whose generation recorded per-file zone keys
    #: (z-ordered compactions) split manifest-only at any dir count
    _DV_FILE_SPLIT_DIR_CAP = 256
    #: most dv_file_rows entries the manifest carries (r14). Each is
    #: ~80 bytes of JSON; the cap bounds manifest bloat the way the
    #: rel/file caps do. A table at the cap just stops recording new
    #: files' counts — those files stay unprovable and keep the
    #: anti-join (mask more, never less)
    _DV_FILE_ROWS_CAP = 4096
    #: most position RUNS a file's merged deletion vector may collapse
    #: to and still take the codegen NOT-BETWEEN fast path (r14); past
    #: this the per-row disjunction stops beating the hash anti-join's
    #: ~100 ns probe (the measured 2-4x-slower literal NOT-IN was the
    #: degenerate 1-position-per-run end of this spectrum). Re-mapped
    #: under the consolidated scan in r16 and pinned FINAL from both
    #: sides (SCALING.md r16 runs-crossover rung, 16M rows, clean
    #: 0.11 controls): at 16 runs/file on every file the budgeted
    #: range scan 3.45 s vs the anti-join 2.98 s (a tie within arm
    #: variance — and the range path's win at the common 1-4-run
    #: shapes is 2-6x, so 16 keeps both ends); at 256 runs/file even
    #: an O(log k) balanced interval tree over the runs measured
    #: 6.2 s vs 2.0 s for the join (and the linear disjunction 29 s —
    #: deep in interpreted fallback). Scatter-shaped deletes BELONG
    #: on the join; raising this cap would also grow the manifest
    #: (sidecar finfo stores the runs), so it stays at 16.
    _DV_RANGE_MAX_RUNS = 16
    #: most files routed to the CONSOLIDATED range scan per read (r15:
    #: one scan node total, so this no longer bounds plan width — it
    #: bounds the dispatch-tree expression size and the driver-side
    #: literal list; the tree costs O(log F) allocation-free compares
    #: per row). Overflow files simply stay in the anti-join branch
    _DV_RANGE_MAX_FILES = 1024
    # r15 carried a 32-file cap here (_DV_RANGE_MAX_UNSAFE_FILES) for
    # encoding-unsafe rels, which got one single-file FileScan operator
    # each (the 4-15 ms fixed cost) and overflowed to the anti-join.
    # r16 folds them into the consolidated scan — their dispatch
    # literals come from fs.qualified_uri on the actual file path
    # (byte identity with _metadata pinned across the hostile classes;
    # the per-group canary fails loud on drift) — so the cap is gone.
    # r14 carried a 262,144-row size gate here (_DV_RANGE_MIN_FILE_ROWS)
    # because each range-routed file was its own FileScan operator with a
    # measured 4-15 ms fixed cost, so tiny files were cheaper inside the
    # join. The r15 consolidated range scan removed the per-file operator
    # entirely (ceil(F/32) scan nodes, O(log leaves) allocation-free
    # dispatch), and the re-mapped crossover showed the gate's premise
    # gone: 128 routed files of 125k rows — HALF the old gate — measure
    # 0.55 s consolidated vs 1.49 s join vs 2.99 s per-file at 16M rows
    # (SCALING.md r15 dv_range_consolidated rung) — run-shaped files of
    # ANY size now route to the range branch (runs are exact positions,
    # so no row count is needed).

    def _dv_affected_rels(self, meta: TableMeta) -> "set[str] | None":
        """Partition rels that can hold vectored rows — from the manifest
        alone, zero I/O. ``None`` = cannot confine (unpartitioned table,
        a capped sidecar entry without a rel list, or a key shape we
        don't recognize): the caller must mask every path. Fail-safe
        direction is always "mask more"."""
        if not meta.partition_keys:
            return None
        rels: set[str] = set()
        for key in meta.deletion_vectors:
            leaf = key.rsplit("/", 1)[0]
            rel = leaf.partition("/")[2]
            if not rel:
                return None  # no partition component: mask everything
            # inline keys are _metadata-derived (URI-encoded); committed
            # rels are raw hive names — decode before comparing (r13
            # review find: the encoded rel missed the raw set and the
            # vectored partition scanned CLEAN)
            rels.add(_uri_unquote(rel))
        for e in meta.dv_sidecars:
            if e[3] is None:
                return None
            rels.update(e[3])  # stored decoded by _write_dv_sidecar
        return rels

    @staticmethod
    def _dv_state_digest(meta: TableMeta) -> str:
        """Compact content digest of both DV tiers for cache keys — the
        inline dict alone can be hundreds of KB of base64 at the 100k
        cap, and holding full reprs in every cached key duplicated it
        per entry (review find). One md5 over the reprs keeps the
        content addressing at 32 bytes per key; the repr cost itself is
        one linear pass per read, small beside the read."""
        import hashlib

        h = hashlib.md5()
        h.update(repr(meta.deletion_vectors).encode())
        h.update(repr(meta.dv_sidecars).encode())
        # dv_file_rows rides in the digest because the READ PLAN depends
        # on it (the fully-deleted-file prune, r14) and the digest is
        # the plan memo's DV-content key; it only ever changes alongside
        # a DV-tier change, so _dv_build_df sees no extra misses
        h.update(repr(sorted(meta.dv_file_rows.items())).encode())
        return h.hexdigest()

    @staticmethod
    def _dv_touched_files(meta: TableMeta) -> "set[str] | None":
        """Exactly the data files that carry vectored rows — manifest
        only, zero I/O. Inline vector keys ARE file paths, so they are
        always exact; sidecar entries contribute their recorded file
        list (r13, ``_write_dv_sidecar``). ``None`` = at least one entry
        has no complete list (one past the _DV_SIDECAR_FILE_CAP): callers
        must fall back to directory-level confinement — mask more, never
        less."""
        # decoded to the RAW namespace: the split compares against fs
        # listings (inline keys are _metadata-derived/URI-encoded; r13
        # sidecar file lists are stored decoded at write time)
        out: set[str] = {_uri_unquote(f) for f in meta.deletion_vectors or ()}
        for e in meta.dv_sidecars or []:
            if e[4] is None:
                return None
            out.update(e[4])
        return out or None

    def _dv_file_stats(self, meta: TableMeta) -> "dict[str, list] | None":
        """Cumulative per-file deletion-vector stats, manifest-only:
        ``{decoded file rel: [total vectored positions, merged runs |
        None]}``. A whole-result ``None`` means some entry is capped
        (files=None, and so finfo=None) — no per-file reasoning is
        possible and the caller keeps the plain anti-join. Summing
        per-entry counts is EXACT because (file, position)
        pairs never repeat across entries (the sidecar-merge canary's
        invariant). Runs merge across entries and survive only if every
        contributing entry recorded them and the coalesced total stays
        within ``_DV_RANGE_MAX_RUNS``. Inline vectors decode on the
        driver here (≤ _DV_INLINE_MAX_POSITIONS by the write bound) —
        one pass per call, and callers sit behind the _read_raw plan
        memo so an unchanged manifest pays it once."""
        cap = self._DV_RANGE_MAX_RUNS
        stats: dict[str, list] = {}

        def merge(f: str, cnt: int, runs) -> None:
            ent = stats.setdefault(f, [0, []])
            ent[0] += cnt
            if runs is None or ent[1] is None:
                ent[1] = None
            else:
                ent[1].extend(runs)

        for key, e in meta.deletion_vectors.items():
            pos = _dv_decode(e)
            merge(_uri_unquote(key), len(pos), _runs_of(pos, cap))
        for e in meta.dv_sidecars:
            if e[5] is None:
                return None
            for f, ent in e[5].items():
                merge(f, ent[0], ent[1])
        for ent in stats.values():
            if ent[1] is not None:
                ent[1] = _coalesce_runs(ent[1])
                if not ent[1] or len(ent[1]) > cap:
                    ent[1] = None
        return stats

    def _dv_file_routing(
        self, meta: TableMeta
    ) -> "dict[str, tuple[str, list | None]] | None":
        """Classify every vector-carrying file for the read path (r14):
        ``{decoded file rel: ('dead', None) | ('range', runs) |
        ('join', None)}``. 'dead' = provably 100%-deleted (cumulative
        positions == recorded row count) — dropped at listing time;
        'range' = run-shaped at ANY size (r15: the consolidated scan
        removed the per-file operator cost that used to gate small
        files onto the join); 'join' = the broadcast anti-join. ``None`` = no per-file evidence at all
        (no recorded row counts, or an entry without per-file stats) —
        nothing can route and the caller skips the classification
        entirely. THE single source both `_dv_branch_union` routes on
        and the scale ladder reports from, so published routing
        evidence can never drift from the executed plan. (The
        _DV_RANGE_MAX_FILES plan-width cap is applied by the reader,
        not here — 'range' means eligible.)"""
        if not meta.dv_file_rows:
            # the dead proof can't fire without recorded row counts, and
            # while the r15 range path COULD (runs need no counts), a
            # table with per-file run stats but zero recorded counts
            # only arises at the dv_file_rows cap overflow — too rare to
            # pay the inline decode for on every count-less plan-memo miss
            return None
        stats = self._dv_file_stats(meta)
        if stats is None:
            return None
        out: "dict[str, tuple[str, list | None]]" = {}
        for rf, st in stats.items():
            rows = meta.dv_file_rows.get(rf)
            if rows is not None and st[0] > rows:
                # defense-in-depth (r15 advice): cumulative vectored
                # positions EXCEED the file's immutable row count — a
                # (file, position) pair repeated across tiers, or a
                # corrupt count. The dead-file proof depends on
                # cross-tier uniqueness (only sidecar-to-sidecar merges
                # have a loud canary), so an overshoot here is the one
                # observable symptom of that bug class: never trust
                # equality or runs derived from the same evidence —
                # force the anti-join (mask-more, always correct) and
                # say so loudly
                import warnings

                warnings.warn(
                    f"deletion-vector invariant broken on {meta.name!r}: "
                    f"file {rf!r} has {st[0]} vectored positions but "
                    f"{rows} recorded rows — duplicate (file, position) "
                    "pairs across DV tiers; forcing the anti-join for "
                    "this file",
                    RuntimeWarning,
                    stacklevel=2,
                )
                out[rf] = ("join", None)
                continue
            if rows == st[0]:
                out[rf] = ("dead", None)
            elif st[1]:
                # run-shaped at ANY size (r15): the consolidated range
                # scan has no per-file operator cost, so the r14 size
                # gate is gone; runs are exact positions and need no
                # recorded row count to be correct
                out[rf] = ("range", st[1])
            else:
                out[rf] = ("join", None)
        return out

    @staticmethod
    def _dv_position_totals(meta: TableMeta) -> "tuple[int, int]":
        """(inline, sidecar) vectored-position totals — THE numbers
        the write paths budget against ``_DV_AUTO_MAX_ROWS`` /
        ``_DV_INLINE_MAX_POSITIONS`` and ``analyze()`` reports as
        pressure; one definition so the enforced thresholds and the
        operator-facing diagnostic can never drift (review find:
        three hand-rolled copies)."""
        return (
            sum(int(e[0]) for e in meta.deletion_vectors.values()),
            sum(int(e[1]) for e in meta.dv_sidecars),
        )

    def _dv_masked_clean(
        self,
        meta: TableMeta,
        entries: "list[tuple[str, int, str, bool]]",
        touched: "set[str] | None",
    ) -> "tuple[list[str], list[str]]":
        """Partition/generation-level masked-vs-clean split of
        `_read_entries` (table(), scan(), _read_rels): an entry
        ``(rel, seq, path, is_file)`` is CLEAN when the manifest proves
        no vector can touch it — its rel outside the affected-rel set,
        its generation outside the vector-generation set, or (for an
        explicit FILE path, e.g. a per-file zone-map hit) the file
        outside the exact touched set. Anything unprovable stays
        masked — mask more, never less."""
        affected = self._dv_affected_rels(meta)
        vseqs = self._dv_vector_seqs(meta)
        masked: list[str] = []
        clean: list[str] = []
        for rel, s, p, is_file in entries:
            can = (
                affected is None or rel == "" or rel in affected
            ) and (vseqs is None or s in vseqs)
            if can and is_file and touched is not None:
                can = p.rsplit("/data/", 1)[-1] in touched
            (masked if can else clean).append(p)
        return masked, clean

    def _dv_record_file_rows(
        self, name: str, meta: TableMeta, files_decoded: "set[str]"
    ) -> None:
        """Record the immutable TOTAL row counts of files newly carrying
        vectors into ``meta.dv_file_rows`` — ONE zero-column count job
        over exactly those files (the parquet reader materializes no
        data columns for it, so the job is footer/row-group driven).
        Called by the vector writer right before its commit, so the
        counts ride the same manifest PUT that publishes the vectors.
        Files are immutable, so already-recorded counts are never
        re-measured; the cap bounds manifest growth and skipping only
        costs the reader provability (the file keeps the anti-join).
        At the cap the fill is PARTIAL (r15 — was all-or-nothing):
        remaining slots go to the MOST-VECTORED new files first, ranked
        by the cumulative per-file position counts already on the
        driver (r16 — was byte sizes from one LIST per parent dir; the
        writer adds its sidecar/inline entry BEFORE this call, so
        `_dv_file_stats` sees the new vectors, and the position count
        is both a lower bound on the file's rows and the direct
        measure of how much the file gains from dead-prune and range
        routing; ordering only — the recorded values are still exact
        row counts). Zero filesystem calls at the cap."""
        need = sorted(files_decoded - set(meta.dv_file_rows))
        if not need:
            return
        room = self._DV_FILE_ROWS_CAP - len(meta.dv_file_rows)
        if room <= 0:
            return
        if len(need) > room:
            stats = self._dv_file_stats(meta) or {}

            # deterministic under ties: (-count, rel) ascending
            need = sorted(need, key=lambda f: (-stats.get(f, [0])[0], f))[:room]
            need.sort()
        data_dir = f"{self._dir(name)}/data"
        schema_with_seq = T.StructType(
            meta.schema.fields + [T.StructField(_SEQ_COL, T.LongType(), True)]
        )
        counts = (
            self.spark.read.schema(schema_with_seq)
            .option("basePath", data_dir)
            .parquet(*[f"{data_dir}/{f}" for f in need])
            .groupBy(
                F.substring_index(
                    F.col("_metadata.file_path"), "/data/", -1
                ).alias("__f")
            )
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        for r in counts:
            meta.dv_file_rows[_uri_unquote(r["__f"])] = int(r["__n"])

    def _dv_file_split(
        self, masked: list[str], touched: set[str], clean: list[str], meta: TableMeta
    ) -> list[str]:
        """FILE-level deletion-vector confinement (r13): split each
        vector-carrying directory's listing into explicit part-files —
        files NOT in the complete touched set join the ``clean`` codegen
        branch; only files that actually carry vectors stay masked. This
        is the Delta/Iceberg "only files with DVs pay the mask" property,
        expressed as path routing above Spark's public reader: a wide
        delete that zone-pruned into 1 of a partition's 8 part-files now
        sends 1/8 of that partition's rows through the anti-join.

        r15: a leaf whose generation carries PER-FILE zone keys splits
        MANIFEST-ONLY — those keys are a complete file enumeration by
        the writer's contract (scan() already replaces its LIST with
        them, and `_collect_zone_maps` enumerates even all-NULL files
        precisely so that holds), in the on-disk namespace (leaf from
        the committed rel, file names Spark-generated safe chars). Only
        leaves WITHOUT an inventory pay a LIST, and the
        ``_DV_FILE_SPLIT_DIR_CAP`` listing budget applies to exactly
        those — a z-ordered table above the cap keeps file-level
        confinement (and dead-prune/range routing) at zero listing
        calls, any dir count.

        Sound because committed generations are immutable (a listed dir's
        file set never changes after its commit) and ``touched`` is exact
        by construction (inline keys are file paths; sidecar lists come
        off the written parquet itself — incomplete sets are None and the
        caller never reaches here). Fail-safe direction: a dir that is
        not provably files-only (has subdirectories — a partitioned live
        delta — or lists empty, or lacks the /data/ marker) stays WHOLE
        on the masked side; hidden files (_SUCCESS, .crc) are skipped to
        match Spark's own directory-scan filter.

        r16: a partitioned live-delta GENERATION dir (``_seq=K``, the
        one shape that always stayed whole — its listing has
        subdirectories) expands into its leaves' files when the
        manifest carries the generation's ``__inv__`` completeness
        marker: the writer recorded EVERY leaf's full file list, so
        the expansion is manifest-only and exact. Without the marker
        (a skipped leaf, a pre-r16 generation) the dir stays whole —
        expanding a partial inventory would silently drop the missing
        leaves from the read."""
        still: list[str] = []
        inv: "dict[str, list[str]] | None" = None
        gen_leaves: "dict[str, list[str]]" = {}
        budget = self._DV_FILE_SPLIT_DIR_CAP
        for d in masked:
            if "/data/" not in d:
                still.append(d)
                continue
            if d.endswith(".parquet") and "=" not in d.rsplit("/", 1)[1]:
                # already an explicit part-file (scan()'s per-file
                # zone-map hits feed these): no LIST needed — route by
                # the same rel-in-touched test the expansion below
                # applies to listed files. touched is complete by the
                # caller's contract (None never reaches here). The
                # structural last-segment test matches _zone_key_file:
                # a LEAF DIR for a partition value ending '.parquet'
                # (part=x.parquet — its segment carries '=') must NOT
                # route as a file, or the whole dir lands clean and
                # deleted rows resurface (r15 advice find, the scan()
                # arm of the same bug).
                rel_f = d.rsplit("/data/", 1)[1]
                (still if rel_f in touched else clean).append(d)
                continue
            if inv is None:
                # lazy one-pass index of the manifest's per-file zone
                # keys: {leaf -> [file names]} — built at most once per
                # split (the plan memo amortizes it across reads) —
                # plus {marker'd generation -> [its leaves]} for the
                # live-delta gen-dir expansion
                inv = {}
                markers = set()
                for zk in meta.zone_maps:
                    lf_fn = _zone_key_file(zk)
                    if lf_fn is not None:
                        inv.setdefault(lf_fn[0], []).append(lf_fn[1])
                    elif zk.endswith("/" + _INV_COMPLETE):
                        markers.add(zk.rsplit("/", 1)[0])
                for leaf in inv:
                    gen = leaf.partition("/")[0]
                    if gen != leaf and gen in markers:
                        gen_leaves.setdefault(gen, []).append(leaf)
            rel_d = d.rsplit("/data/", 1)[1]
            names = inv.get(rel_d)
            if names is None and rel_d in gen_leaves:
                # whole live-delta generation dir, marker-complete
                # inventory: expand to every leaf's files, zero LIST
                for leaf in gen_leaves[rel_d]:
                    sub = leaf.partition("/")[2]
                    for fn in inv[leaf]:
                        (still if f"{leaf}/{fn}" in touched else clean).append(
                            f"{d}/{sub}/{fn}"
                        )
                continue
            has_sub = False
            if names is None:
                if budget <= 0:
                    still.append(d)  # listing budget spent: dir-level
                    continue  # confinement stands (mask-more)
                budget -= 1
                names, has_sub = self.fs.list_dir(d)
            data_files = [fn for fn in names if not fn.startswith(("_", "."))]
            if has_sub or not data_files:
                still.append(d)
                continue
            for fn in data_files:
                p = f"{d}/{fn}"
                # identical derivation to _apply_dvs's __dv_f
                # (substring_index(file_path, '/data/', -1)): the rel
                # path after the LAST /data/ component
                rel_f = p.rsplit("/data/", 1)[1]
                (still if rel_f in touched else clean).append(p)
        return still

    @staticmethod
    def _dv_vector_seqs(meta: TableMeta) -> "set[int] | None":
        """Generations whose files carry vectors — again manifest-only.
        ``None`` = an inline key we cannot parse: treat every generation
        as possibly vectored (mask more, never less)."""
        seqs: set[int] = set()
        for key in meta.deletion_vectors:
            head = key.partition("/")[0]
            try:
                seqs.add(int(head.split("=", 1)[1]))
            except (ValueError, IndexError):
                return None
        for e in meta.dv_sidecars:
            seqs.update(e[2])
        return seqs

    def _write_dv_sidecar(self, name: str, fp_df: DataFrame) -> list:
        """Write one immutable DV sidecar from a (``__dv_f``, ``__dv_p``)
        DataFrame — ONE executor-side pass, no driver collect — and
        return its manifest pointer ``[relpath, count, [seqs...]]``.
        Count and generation set come off the written parquet (so a
        nondeterministic predicate's matched set is counted exactly as
        written, the single authoritative evaluation). ≤ _DV_AUTO_MAX_ROWS
        positions by the callers' bounds → one coalesced file."""
        rel = f"dv/dv-{uuid.uuid4().hex}"
        path = f"{self._dir(name)}/{rel}"
        (
            fp_df.select(F.col("__dv_f").alias("f"), F.col("__dv_p").alias("p"))
            .coalesce(1)
            .write.mode("errorifexists")
            .parquet(path)
        )
        back = self.spark.read.schema(self._DV_SIDE_SCHEMA).parquet(path)
        n = back.count()
        # distinct touched FILES (r13): lets readers confine the
        # anti-join to the part-files that actually carry vectors
        # (_read_raw's file split) instead of whole partitions. The
        # limit bounds the collect — a delete touching more files than
        # the cap records None and readers keep dir granularity.
        files = [
            r.f
            for r in back.select("f")
            .distinct()
            .limit(self._DV_SIDECAR_FILE_CAP + 1)
            .collect()
        ]
        # stored DECODED (r13): the parquet 'f' column keeps the
        # _metadata-encoded join form, but the entry's rel/file metadata
        # is compared against raw manifest rels and fs listings — store
        # it in their namespace
        if len(files) > self._DV_SIDECAR_FILE_CAP:
            files = None
            leaves = [
                _uri_unquote(r.leaf)
                for r in back.select(
                    F.expr("regexp_replace(f, '/[^/]+$', '')").alias("leaf")
                ).distinct().collect()
            ]
        else:
            files = sorted(_uri_unquote(f) for f in files)
            leaves = sorted({f.rsplit("/", 1)[0] for f in files})
        seqs = sorted({int(lf.partition("/")[0].split("=", 1)[1]) for lf in leaves})
        # affected partition rels, stored so readers can confine the
        # anti-join to the partitions that actually carry vectors (the
        # split in _read_raw); capped so one pathological delete can't
        # bloat the manifest — past the cap readers mask everything
        rels = sorted({lf.partition("/")[2] for lf in leaves})
        if len(rels) > self._DV_SIDECAR_REL_CAP:
            rels = None
        # per-file position stats (r14): counts prove full deletion,
        # runs unlock the codegen NOT-BETWEEN path — see _sidecar_finfo.
        # Only when the file list is complete (the routing that consumes
        # finfo is file-level and never engages without it)
        finfo = self._sidecar_finfo(back) if files is not None else None
        # e[6]: the format marker _meta_from_raw checks on every load
        return [rel, n, seqs, rels, files, finfo, self._DV_SIDECAR_FORMAT]

    def _sidecar_finfo(self, back: DataFrame) -> dict:
        """Per-file stats of one sidecar entry's positions, computed
        EXECUTOR-side off the written parquet (the positions never touch
        the driver): ``{decoded file rel: [position count, runs]}``
        where ``runs`` is a list of inclusive ``[start, end]`` row-index
        ranges when this entry's positions for the file collapse to
        ≤ ``_DV_RANGE_MAX_RUNS`` runs, else None. Counts feed the
        reader's fully-deleted-file proof (cumulative count == recorded
        row count ⇒ drop the file at listing time), runs the per-file
        range-filter fast path for contiguous deletes (r14 — the
        pinpoint_zorder shape). The window+agg runs ONCE — runs_df is
        persisted before its two bounded collects (r15 advice fix: the
        second collect used to recompute the whole window aggregation
        as a fresh job): ≤ _DV_SIDECAR_FILE_CAP rows for the per-file
        summary, then ≤ files × _DV_RANGE_MAX_RUNS run bounds for
        ELIGIBLE files only (a scattered delete's runs ≈ its positions,
        so the bounds collect must stay gated on eligibility)."""
        w = W.partitionBy("f").orderBy("p")
        runs_df = (
            back.withColumn("__pv", F.lag("p").over(w))
            .withColumn(
                "__nr",
                (
                    F.col("__pv").isNull()
                    | (F.col("p") != F.col("__pv") + F.lit(1))
                ).cast("long"),
            )
            .withColumn(
                "__rid",
                F.sum("__nr").over(
                    w.rowsBetween(W.unboundedPreceding, W.currentRow)
                ),
            )
            .groupBy("f", "__rid")
            .agg(
                F.min("p").alias("s"),
                F.max("p").alias("e"),
                F.count(F.lit(1)).alias("c"),
            )
            # one row per (file, run) — bounded by the entry's position
            # count and usually far smaller; spill-safe storage level so
            # a pathological scattered delete can't pin executor memory
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            per_file = (
                runs_df.groupBy("f")
                .agg(F.count(F.lit(1)).alias("nruns"), F.sum("c").alias("cnt"))
                .collect()
            )
            finfo: dict[str, list] = {
                _uri_unquote(r["f"]): [int(r["cnt"]), None] for r in per_file
            }
            eligible = [
                r["f"]
                for r in per_file
                if int(r["nruns"]) <= self._DV_RANGE_MAX_RUNS
            ]
            if eligible:
                for r in (
                    runs_df.filter(F.col("f").isin(eligible))
                    .select("f", "s", "e")
                    .collect()
                ):
                    ent = finfo[_uri_unquote(r["f"])]
                    if ent[1] is None:
                        ent[1] = []
                    ent[1].append([int(r["s"]), int(r["e"])])
                for ent in finfo.values():
                    if ent[1] is not None:
                        ent[1].sort()
        finally:
            runs_df.unpersist()
        return finfo

    #: sidecar entry format marker, stored as e[6]: 1 = the layout
    #: [relpath, count, seqs, rels, files, finfo, 1]. The ONLY layout
    #: readers accept — _meta_from_raw refuses any other entry with
    #: LegacyLayoutError, so no reader infers meaning from field count
    _DV_SIDECAR_FORMAT = 1

    #: sidecar-count bound: past this many entries a delete/update
    #: consolidates every sidecar into ONE before committing, so a
    #: reader's build side opens O(1) files regardless of how many
    #: under-cap deletes accumulated between compactions
    _DV_SIDECAR_MERGE_AT = 8

    def _merge_dv_sidecars(self, name: str, meta: TableMeta) -> None:
        """Consolidate the table's sidecars into one when their count
        exceeds ``_DV_SIDECAR_MERGE_AT`` — called by the write paths
        AFTER appending their new entry, BEFORE the commit, so the
        consolidation rides the same manifest PUT. Sound because every
        sidecar's positions came from a DV-MASKED scan (pairs never
        repeat across sidecars) and files are immutable; the superseded
        sidecar files drop out of the new manifest and are reclaimed by
        vacuum once outside the retain window (archived manifests keep
        referencing them for time travel)."""
        if len(meta.dv_sidecars) <= self._DV_SIDECAR_MERGE_AT:
            return
        entries = list(meta.dv_sidecars)
        # distinct is belt-and-braces (the written set stays exact even
        # if overlapping entries ever slipped in); the count check below
        # is the CANARY — pairs can never legitimately repeat across
        # sidecars (every writer derives from a masked scan, and the
        # rebase guard stops concurrent consolidations from overlapping
        # merged entries), so a mismatch means some write path built a
        # sidecar from an unmasked scan and must fail loudly, not be
        # silently deduped away
        fp = self._sidecar_fp_df(name, entries).distinct().select(
            F.col("__dvd_f").alias("__dv_f"), F.col("__dvd_p").alias("__dv_p")
        )
        merged = self._write_dv_sidecar(name, fp)
        total = sum(int(e[1]) for e in entries)
        if merged[1] != total:
            self.fs.delete(f"{self._dir(name)}/{merged[0]}")
            raise RuntimeError(
                f"dv sidecar merge on {name!r}: {merged[1]} distinct pairs "
                f"vs {total} recorded — duplicate (file, position) pairs "
                "across sidecars; some write path bypassed the masked scan"
            )
        meta.dv_sidecars = [merged]

    def _sidecar_fp_df(self, name: str, entries: list[list]) -> DataFrame:
        """Scan of the given sidecar entries as (__dvd_f, __dvd_p)."""
        paths = [f"{self._dir(name)}/{e[0]}" for e in entries]
        return self.spark.read.schema(self._DV_SIDE_SCHEMA).parquet(*paths).select(
            F.col("f").alias("__dvd_f"), F.col("p").alias("__dvd_p")
        )

    def _sidecar_rels(self, name: str, entries: list[list]) -> set[str]:
        """Distinct partition rels the given sidecars' files live under
        (tiny distinct collect — sidecar leaf count, not row count)."""
        leaves = self._sidecar_fp_df(name, entries).select(
            F.expr("regexp_replace(__dvd_f, '/[^/]+$', '')").alias("leaf")
        ).distinct().collect()
        # decoded: callers compare these against raw manifest rels
        return {_uri_unquote(r.leaf.partition("/")[2]) for r in leaves}

    #: live entries in the per-handle DV build-side cache; tiny because
    #: one table normally has ONE live version and time-travel reads are
    #: rare — at the 1M-position budget each persisted entry is tens of
    #: MB, so the bound is a memory bound, not a hit-rate tune
    _DV_CACHE_MAX = 4

    def _dv_build_df(
        self, name: str, meta: TableMeta, digest: "str | None" = None
    ) -> DataFrame:
        """The FULL deletion-vector build side of one manifest version —
        inline vectors decoded + every sidecar's parquet, with the
        partition rel of each position materialized once as
        ``__dvd_rel`` — built once and PERSISTED (r13). Before this,
        every masked query re-read the sidecar parquet, re-decoded the
        inline vectors on the driver, and re-derived rel-of-file with
        per-row regexps: a measured ~1.5-2 s floor at the 1M-position
        budget, paid per QUERY on an unchanged table (SCALING.md r12
        rung; the r12 verdict's top task). Now the second and later
        masked reads of the same (table, version) scan the in-memory
        columnar blocks; the per-query residue is the broadcast exchange
        itself. Correctness needs no explicit invalidation: every commit
        bumps ``meta.version``, which changes the cache key — and the
        key is additionally CONTENT-addressed over both DV tiers (r13
        review find: internal callers pass tentative/mutated metas
        sharing a version with different DV content; a version-only key
        would hand them the other content's positions)."""
        # digest passed down from _plan_memo when available (review find:
        # it was recomputed 2-3x per masked read along this path)
        key = (
            name,
            meta.table_uuid,
            meta.version,
            digest if digest is not None else self._dv_state_digest(meta),
        )
        return self._memo(
            self._dv_cache,
            key,
            lambda: self._dv_build_side(name, meta),
            self._DV_CACHE_MAX,
            evict=DataFrame.unpersist,
        )

    def _dv_build_side(self, name: str, meta: TableMeta) -> DataFrame:
        """`_dv_build_df`'s uncached build (returned persisted)."""
        dv_df = None
        if meta.deletion_vectors:
            import pandas as pd

            rows = [
                (f, p)
                for f, ent in meta.deletion_vectors.items()
                for p in _dv_decode(ent)
            ]
            dv_df = self.spark.createDataFrame(
                pd.DataFrame(rows, columns=["__dvd_f", "__dvd_p"]),
                T.StructType(
                    [
                        T.StructField("__dvd_f", T.StringType()),
                        T.StructField("__dvd_p", T.LongType()),
                    ]
                ),
            )
        if meta.dv_sidecars:
            sdf = self._sidecar_fp_df(name, meta.dv_sidecars)
            dv_df = sdf if dv_df is None else dv_df.unionByName(sdf)
        # rel-of-file (leaf dir minus the _seq=K head) computed ONCE into
        # the persisted blocks — the per-query per-row double
        # regexp_replace the r12 verdict flagged is gone; pruned scans
        # filter the materialized column instead. The join-key hashes
        # (see _apply_dvs) are also precomputed here, so the per-query
        # build side is a pure in-memory scan of three longs.
        return (
            dv_df.withColumn(
                "__dvd_rel",
                # url_decode strips the _metadata URI layer so the
                # column lives in the RAW namespace its isin() consumers
                # (scan-pruning rel sets) use; the '+'->%2B pre-replace
                # stops form-decoding from reading a literal '+' as a
                # space — the composition equals urllib's unquote
                F.expr(
                    "url_decode(replace(regexp_replace(regexp_replace("
                    "__dvd_f, '/[^/]+$', ''), '^[^/]+/?', ''), '+', '%2B'))"
                ),
            )
            .withColumn("__dvd_h1", F.xxhash64(F.col("__dvd_f")))
            .withColumn(
                "__dvd_h2",
                F.xxhash64(
                    F.concat(F.col("__dvd_f"), F.lit(self._DV_HASH_SALT))
                ),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    def _dv_cache_purge(self, name: str) -> None:
        """Drop (and unpersist) every cached build side of one table —
        hygiene on drop()/create(replace); correctness never depends on
        it (the table_uuid in the key already isolates table lives)."""
        with self._dv_cache_mu:
            for store in (self._dv_cache, self._plan_cache):
                for k in [k for k in store if k[0] == name]:
                    v = store.pop(k)
                    if store is self._dv_cache:
                        v.unpersist()

    def _apply_dvs(
        self,
        df: DataFrame,
        name: str,
        meta: TableMeta,
        keep_pos: bool = False,
        rels: "set[str] | None" = None,
        digest: "str | None" = None,
    ) -> DataFrame:
        """Anti-join a manifest's deletion vectors out of a parquet scan.
        Zero plan nodes when the table has none (the common case). Rows
        are identified by (data-relative file path, parquet row index) —
        both from the hidden ``_metadata`` file-source column, resolved
        here BEFORE any join/projection can detach it from the scan.
        ``keep_pos=True`` keeps the ``__dv_f``/``__dv_p`` identity
        columns visible (the vector writer needs them).
        Sidecar vectors (r12) union into the same build side — read
        executor-side from their parquet, never decoded on the driver.

        ``rels`` (r12): when the CALLER's scan is already confined to
        these partition rels (scan()'s zone/bloom pruning, the CDC
        _read_rels), the build side is pruned to match — positions in
        other partitions cannot join anything this scan produces.
        Entry-level pruning (inline entries by key rel, sidecar entries
        by their recorded rel list; entries without one stay in — mask
        more, never less) decides WHETHER any vector can touch this
        scan at all: a pruned scan over vector-free partitions still
        never opens the dv parquet or touches the cache. When vectors
        CAN touch it, the build side is the per-version persisted cache
        (``_dv_build_df``, r13) row-filtered on its materialized
        ``__dvd_rel`` column — exact row-level pruning with no per-query
        regexp, skipped only for a >1000-rel set (mask-more)."""
        dvs = getattr(meta, "deletion_vectors", None)
        sides = getattr(meta, "dv_sidecars", None)
        if not dvs and not sides and not keep_pos:
            return df
        if rels is not None:
            # "" rides along so a degenerate key with no rel component
            # (shouldn't exist on a partitioned table) stays masked —
            # the fail-safe direction is always mask-more
            rels = set(rels) | {""}
            if dvs:
                # encoded key rel vs raw scan rels: decode (r13 review
                # find — the mismatch dropped the entry and the scan
                # showed deleted rows)
                dvs = {
                    f: e
                    for f, e in dvs.items()
                    if _uri_unquote(f.rsplit("/", 1)[0].partition("/")[2])
                    in rels
                }
            if sides:
                sides = [e for e in sides if e[3] is None or rels & set(e[3])]
        df = df.withColumn(
            "__dv_f",
            F.substring_index(F.col("_metadata.file_path"), "/data/", -1),
        ).withColumn("__dv_p", F.col("_metadata.row_index"))
        if dvs or sides:
            # broadcast anti-join, deliberately unconditional: a literal
            # per-file NOT-IN filter was measured 2-4x SLOWER (it puts an
            # O(files-with-vectors) disjunction inside the per-row
            # filter, where the hash anti-join probes once per row and
            # its exchange-setup overhead is ~flat in table size — the
            # SCALING.md dvdelete rung holds the canonical numbers).
            # Build side ≤ _DV_AUTO_MAX_ROWS (1M) positions by the
            # write-path bounds — tens of MB hashed, well under executor
            # memory at 100 TB scale; past that the write paths rewrite
            # instead of growing this join. The build is the persisted
            # per-version cache (r13): the entry-level prune above
            # already proved at least one vector can touch this scan,
            # so touching the cache here never breaks the "vector-free
            # pruned scans open nothing" property.
            dv_df = self._dv_build_df(name, meta, digest=digest)
            if rels is not None and 0 < len(rels) <= 1000:
                # exact row-level prune on the cache's materialized rel
                # column (bigger rel sets fall back to the full build —
                # mask-more, and entry-level pruning already bounded it)
                dv_df = dv_df.filter(F.col("__dvd_rel").isin(sorted(rels)))
            # join on (two independent xxhash64 of the rel path, row
            # position), not the path STRING (r13): long-key hash probes
            # cut the measured warm masked read ~25% at 2M probe rows
            # (1.25 s -> 0.95 s, 16M-row table, SCALING.md rung), and the
            # build-side hashes are precomputed in the persisted cache.
            # Exactness: a wrong row is masked only if two DISTINCT file
            # paths collide in BOTH independent 64-bit hashes AND share a
            # row index — P ~ F^2/2^129, ~1e-23 at an absurd F=1e8 files,
            # the same effectively-exact class as the 128-bit gram digest
            # the exact-substring op uses (llmops/dedup.py).
            dv_df = dv_df.select("__dvd_h1", "__dvd_h2", "__dvd_p")
            df = df.withColumn(
                "__dv_h1", F.xxhash64(F.col("__dv_f"))
            ).withColumn(
                "__dv_h2",
                F.xxhash64(F.concat(F.col("__dv_f"), F.lit(self._DV_HASH_SALT))),
            )
            df = df.join(
                F.broadcast(dv_df),
                (F.col("__dv_h1") == F.col("__dvd_h1"))
                & (F.col("__dv_h2") == F.col("__dvd_h2"))
                & (F.col("__dv_p") == F.col("__dvd_p")),
                "left_anti",
            ).drop("__dv_h1", "__dv_h2")
        return df if keep_pos else df.drop("__dv_f", "__dv_p")

    def _visible_entries(
        self, name: str, meta: TableMeta
    ) -> "list[tuple[str, int, str, bool]]":
        """Exactly the directories the manifest commits to, as reader
        entries ``(rel, seq, path, is_file)`` — never a bare scan of the
        data dir, so in-flight or crashed writes are unreachable by
        construction. Live deltas carry rel "" (a generation dir spans
        every partition it wrote)."""
        out = [("", s, self._seq_dir(name, s), False) for s in meta.live_deltas]
        for rel, s in sorted(meta.committed.items()):
            base = self._seq_dir(name, s)
            out.append((rel, s, base if rel == "" else f"{base}/{rel}", False))
        return out

    def _visible_paths(self, name: str, meta: TableMeta) -> list[str]:
        return [p for _, _, p, _ in self._visible_entries(name, meta)]

    def _read_rels(self, name: str, meta: TableMeta, rels) -> DataFrame:
        """Read ONLY the given partition rels of a manifest state: the
        committed base leaf per rel plus any live-delta leaf that exists
        for it. Path-level restriction — nothing else is listed. The
        CDC (``table_changes``) read; same DV confinement and plan memo
        as ``table()`` (`_plan_memo`). The per-rel ``fs.exists`` probes
        run inside the memoized build, so a memo hit does no I/O: the
        path set is a pure function of the key (committed/live
        generation dirs are immutable once the manifest names them)."""

        def entries() -> "list[tuple[str, int, str, bool]]":
            out = []
            for rel in sorted(rels):
                s = meta.committed.get(rel)
                if s is not None:
                    base = self._seq_dir(name, s)
                    # rel == "" (unpartitioned): the generation dir ITSELF —
                    # appending "/{rel}" would leave a trailing slash whose
                    # file-split rels ("_seq=N//part-x") never match the
                    # touched set, routing a vectored file to the CLEAN
                    # branch (a confirmed mask-LESS hazard)
                    out.append((rel, s, base if rel == "" else f"{base}/{rel}", False))
                for d in meta.live_deltas:
                    base = self._seq_dir(name, d)
                    p = base if rel == "" else f"{base}/{rel}"
                    if self.fs.exists(p):
                        out.append((rel, d, p, False))
            return out

        return self._plan_memo(
            name,
            meta,
            "rels",
            (
                tuple(sorted(rels)),
                # the visibility pointers the build consults
                tuple(meta.live_deltas),
                tuple((r, meta.committed.get(r)) for r in sorted(rels)),
            ),
            entries,
            set(rels) if meta.partition_keys else None,
        )

    def _read_raw_unmasked(
        self, name: str, meta: TableMeta, paths: list[str] | None = None
    ) -> DataFrame:
        """The manifest's visible parquet paths, read WITHOUT deletion
        vectors applied — only for callers that layer ``_apply_dvs``
        themselves (the DV builder needs the row-identity columns kept).
        ``paths`` lets a caller that already computed _visible_paths
        avoid a second O(partitions) walk."""
        data_dir = f"{self._dir(name)}/data"
        schema_with_seq = T.StructType(
            meta.schema.fields + [T.StructField(_SEQ_COL, T.LongType(), True)]
        )
        if paths is None:
            paths = self._visible_paths(name, meta)
        if not paths:
            return self.spark.createDataFrame([], schema_with_seq)
        return (
            self.spark.read.schema(schema_with_seq)
            .option("basePath", data_dir)
            .parquet(*paths)
        )

    #: live entries in the per-handle reader-plan memo (plan OBJECTS
    #: only — no persisted Spark state, so eviction is a plain pop).
    #: Three key families share it (raw/rels/scan — see _plan_memo), so
    #: a CDC poll loop cycling a few rel sets plus point lookups plus
    #: full reads must all stay warm
    _PLAN_CACHE_MAX = 32

    def _read_raw(self, name: str, meta: TableMeta) -> DataFrame:
        """Every visible row of a manifest state, vectors masked, with
        ``_SEQ_COL`` — the reader behind ``table()``. Build-side rels
        stay None: live deltas enter with rel "", so rels derived from
        the entries would prune away the vectors of a partition only a
        live delta holds (mask-LESS)."""
        entries = self._visible_entries(name, meta)
        return self._plan_memo(
            name,
            meta,
            "raw",
            tuple(p for _, _, p, _ in entries),
            lambda: entries,
            None,
        )

    def _memo(self, store: dict, key: tuple, build, bound: int, evict=None):
        """THE LRU behind the two per-handle memo stores (reader plans,
        DV build sides): a hit moves to the
        young end; a miss builds OUTSIDE the lock, keeps a racing
        thread's value if one landed first, evicts oldest-first down to
        ``bound`` and calls ``evict`` on every value it drops. A build
        returning None is passed through uncached."""
        with self._dv_cache_mu:
            hit = store.pop(key, None)
            if hit is not None:
                store[key] = hit  # re-insert: LRU recency
                return hit
        val = build()
        if val is None:
            return None
        with self._dv_cache_mu:
            cur = store.get(key)
            if cur is not None:  # raced another thread: keep theirs
                if evict is not None:
                    evict(val)
                return cur
            while len(store) >= bound:
                old = store.pop(next(iter(store)))
                if evict is not None:
                    evict(old)
            store[key] = val
        return val

    def _plan_memo(
        self,
        name: str,
        meta: TableMeta,
        family: str,
        parts: tuple,
        entries,
        rels: "set[str] | None",
    ) -> DataFrame:
        """ONE content-addressed memo for every reader plan, family
        'raw' (``table()``), 'rels' (``_read_rels``) or 'scan'
        (``scan()``), built by `_read_entries` from ``entries()`` (called
        only on a miss). Spark eagerly lists every path into an
        InMemoryFileIndex at construction (r13: 0.88 s construct vs
        0.45 s exec on a 287-file split plan), and plans and committed
        generations are immutable, so equal content may share one plan
        object. DV digest, schema and partition shape ride in the key
        with the family's ``parts`` because restore and DDL pass
        tentative metas that share a version. ``key[0]`` is the table
        name (``_dv_cache_purge`` matches on it)."""
        digest = self._dv_state_digest(meta)
        key = (
            name,
            family,
            meta.table_uuid,
            meta.version,
            digest,
            hash(meta.schema_json),
            tuple(meta.partition_keys),
            parts,
        )
        return self._memo(
            self._plan_cache,
            key,
            lambda: self._read_entries(name, meta, entries(), rels, digest),
            self._PLAN_CACHE_MAX,
        )

    def _read_entries(
        self,
        name: str,
        meta: TableMeta,
        entries: "list[tuple[str, int, str, bool]]",
        rels: "set[str] | None",
        digest: str,
    ) -> DataFrame:
        """THE deletion-vector-aware reader over ``(rel, seq, path,
        is_file)`` entries (keeps ``_SEQ_COL``). The broadcast anti-join
        costs ~100 ns per PROBE row — the join operator breaking
        whole-stage codegen — so rows that provably cannot match must
        never enter it: the manifest-only masked-vs-clean split
        (`_dv_masked_clean`), then the shared tail (`_dv_branch_union`:
        file split, dead-file drop, range routing). Fallback, when no
        split is provable or every file proved fully deleted: one masked
        scan of every entry — unconditionally correct. ``rels`` prunes
        the join's build side (None = every vector)."""
        paths = [p for _, _, p, _ in entries]
        if not paths:
            return self._read_raw_unmasked(name, meta, paths)
        if meta.deletion_vectors or meta.dv_sidecars:
            touched = self._dv_touched_files(meta)
            masked, clean = self._dv_masked_clean(meta, entries, touched)
            if clean or touched is not None:
                out = self._dv_branch_union(
                    name, meta, masked, clean, touched, digest, rels
                )
                if out is not None:
                    return out
        return self._apply_dvs(
            self._read_raw_unmasked(name, meta, paths),
            name,
            meta,
            rels=rels,
            digest=digest,
        )

    def _dv_branch_union(
        self,
        name: str,
        meta: TableMeta,
        masked: list[str],
        clean: list[str],
        touched: "set[str] | None",
        digest: str,
        rels: "set[str] | None",
    ) -> "DataFrame | None":
        """The TAIL of `_read_entries` (the one reader behind table(),
        scan() and _read_rels), fed its partition/generation-level
        (masked, clean) split; it runs only on a plan-memo miss. Steps:
        (1) split vector-carrying dirs into explicit part-files
        (`_dv_file_split`), rescuing untouched files onto the clean
        branch; (2) route each touched file by the manifest's per-file
        proof
        (`_dv_file_routing`): 100%-deleted files are DROPPED at listing
        time, run-shaped files take the consolidated codegen
        NOT-BETWEEN scans (`_dv_range_scan` — r16: encoding-unsafe
        rels included, via per-file qualified_uri dispatch literals),
        everything else keeps the broadcast
        anti-join; (3) union the branches. Returns None when every
        branch is empty (all files proved dead) — the caller supplies
        its own fail-safe fallback. ``rels`` prunes the join branch's
        build side exactly as `_apply_dvs` documents."""
        # r15: the dir cap is the split's INTERNAL listing budget —
        # leaves with a manifest file inventory (per-file zone keys)
        # split without LISTing at any dir count, so the split always
        # runs when a touched set exists
        if touched is not None and masked:
            masked = self._dv_file_split(masked, touched, clean, meta)
        # per-file routing past the split (r14): with complete
        # per-file stats, a masked FILE whose cumulative vectored
        # positions equal its recorded row count is 100%-DELETED —
        # drop it at listing time (Delta/Iceberg's "DV cardinality
        # == record count ⇒ prune the file"); a file whose
        # positions collapse to a few runs takes a pure-codegen
        # NOT-BETWEEN filter instead of the broadcast anti-join
        # (the contiguous-delete shape: the join operator itself
        # was the measured ~100 ns/probe-row residue). Both proofs
        # are manifest-exact; any missing evidence leaves the file
        # in the anti-join — mask more, never less.
        range_routed: "list[tuple[str, list]]" = []
        if touched is not None and masked:
            routing = self._dv_file_routing(meta)
            if routing is not None:
                still: list[str] = []
                for p in masked:
                    rf = (
                        p.rsplit("/data/", 1)[1]
                        if "/data/" in p
                        else None
                    )
                    cls = routing.get(rf) if rf in touched else None
                    if cls is None:
                        still.append(p)  # dir kept whole, or no
                        # per-file evidence: stay in the join
                    elif cls[0] == "dead":
                        continue  # fully deleted: never listed
                    elif cls[0] == "range":
                        # r16: EVERY range-class file joins the ONE
                        # consolidated scan — encoding-unsafe rels
                        # (hostile partition values) get their dispatch
                        # literal from fs.qualified_uri on the actual
                        # file path (byte-identity with _metadata
                        # pinned across the hostile classes, and the
                        # per-group canary fails loud on any drift), so
                        # the r15 per-file lane and its 32-file cap
                        # (_DV_RANGE_MAX_UNSAFE_FILES — one 4-15 ms
                        # FileScan operator per hostile file, overflow
                        # to the anti-join) are gone
                        if len(range_routed) < self._DV_RANGE_MAX_FILES:
                            range_routed.append((p, cls[1]))
                        else:
                            still.append(p)
                    else:
                        still.append(p)
                masked = still
        parts: list[DataFrame] = []
        if masked:
            parts.append(
                self._apply_dvs(
                    self._read_raw_unmasked(name, meta, masked),
                    name,
                    meta,
                    digest=digest,
                    rels=rels,
                )
            )
        if range_routed:
            parts.append(self._dv_range_scan(name, meta, range_routed))
        if clean:
            parts.append(self._read_raw_unmasked(name, meta, clean))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    #: rels on which URI percent-encoding is the IDENTITY — RFC-3986
    #: unreserved chars plus '/' and '=' (hive key=value separators;
    #: Spark part filenames are [a-z0-9.-] by construction, so only a
    #: hostile PARTITION VALUE can fall outside this set). r16: this
    #: only selects the dispatch-literal FAST PATH (zero-JVM string
    #: concat onto the qualified data dir); unsafe rels take the same
    #: consolidated scan with a per-file `fs.qualified_uri` literal.
    _DV_RANGE_SAFE_REL = re.compile(r"[A-Za-z0-9\-._~/=]*\Z")

    #: codegen-size budget per range-scan group, in predicate UNITS —
    #: one unit ≈ one compare in the generated method (a file leaf
    #: costs 2: the URI equality + its when-branch; each run costs 1:
    #: its BETWEEN). A nested CaseWhen tree compiles into ONE method
    #: janino cannot split, and past the JVM's compile-size limits the
    #: whole stage silently drops to interpreted evaluation, so the
    #: group must be bounded by TOTAL predicate size, not file count.
    #: r15 chunked by a fixed 32 LEAVES — sized on the prefix-run
    #: shape (~1 run/leaf ≈ 96 units, measured fast; 64 leaves
    #: measured a 7x fallback) — which silently re-crossed the cliff
    #: when leaves carried fat run lists: 54 files x 16 runs each
    #: (16M rows) measured 4.70 s under the fixed-32-leaf grouping
    #: vs 3.45 s at this unit budget vs 2.98 s forced anti-join
    #: (controls 0.11; SCALING.md r16 runs-crossover rung). 96 units
    #: keeps the one-run shape's grouping BYTE-IDENTICAL to the r15
    #: proven plans (32 x 3-unit leaves) while fat-run groups shrink
    #: to ~5 files and stay compiled.
    _DV_RANGE_GROUP_UNITS = 96

    def _dv_range_scan(
        self, name: str, meta: TableMeta, range_routed: "list[tuple[str, list]]"
    ) -> DataFrame:
        """A HANDFUL of scan nodes over every range-routed file (r15 —
        replaces r14's one-FileScan-operator-per-file plan, whose
        measured 4-15 ms fixed per-operator cost forced the 256k-row
        size gate and a 32-file plan-width cap): files chunk into
        codegen-size-budgeted groups (``_DV_RANGE_GROUP_UNITS`` —
        r16: budgeted by total predicate size, not file count, so
        fat run lists can't push a group's one generated method past
        the JVM compile cliff), one scan each. The
        deleted-row filter is a per-file dispatch built as a BALANCED
        BINARY TREE of nested CASEs comparing ``_metadata.file_path``
        against FULL-URI literals (O(log leaves) compares per row):
        each row descends its group's tree, proves exact equality at
        its leaf, and applies its own file's pure-codegen ``NOT
        (row_index BETWEEN ...)`` disjunction. No join operator, no
        shuffle; each scan amortizes the fixed cost across its group
        and bin-packs the files into tasks.

        r16: encoding-UNSAFE rels (hostile partition values outside
        ``_DV_RANGE_SAFE_REL``) join the same tree — their literals
        come from ``fs.qualified_uri`` on the ACTUAL file path (no
        rel-string concatenation, so no namespace guessing; byte
        identity with ``_metadata.file_path`` is pinned across the
        space/%/+/unicode/hive-escape classes, and the canary below
        fails loud on any future drift). Safe rels keep the zero-JVM
        concat fast path — ``qualified_uri`` memoizes per path, but a
        first build over 1024 files would still pay 1024 JVM
        roundtrips without it. Tree pivot order stays sound for
        non-ASCII literals: Python sorts str by code point and UTF-8
        byte order preserves code-point order across ALL of Unicode,
        so the driver-sorted pivots and Spark's binary-collation
        descent cannot disagree.

        The dispatch expression deliberately contains NO per-row string
        TRANSFORMATION: an earlier draft keyed on
        ``substring_index(file_path, '/data/', -1)`` at every tree node
        and measured 5.4 s dense at 16M rows/32 files (an allocation +
        substring search per node per row) where plain URI equality
        measures 0.49 s against a 0.42 s row_index-only floor —
        UTF8String '=='/'<' are allocation-free byte compares that fail
        on the first differing byte. Safe-rel literals come from
        ``fs.qualified_uri(data_dir) + '/' + rel`` (encoding is the
        identity on them, so the concat IS the Hadoop
        ``makeQualified().toUri()`` rendering Spark's file index
        uses); unsafe-rel literals come from per-file
        ``fs.qualified_uri`` as documented above. Tree pivots compare
        with ``<`` on the same literals — Spark's binary collation and
        Python's sort agree because UTF-8 byte order preserves
        code-point order, so the driver-sorted pivot list and the
        per-row descent can never disagree.

        A row matching NO leaf is impossible (the scan lists exactly
        the routed files), so a miss raises a loud canary: URI-rendering
        infidelity fails the query instead of silently resurfacing
        deleted rows (the one direction this module must never fail).
        The canary is ONE ``coalesce(tree, raise_error)`` around the
        whole tree — leaves return NULL on a failed equality — because
        a draft with ``raise_error`` in every leaf's otherwise-branch
        measured 3.1 s where this shape measures 0.28 s (the per-leaf
        exception blocks inflate the generated code past the
        whole-stage-codegen budget; never-taken branches still cost
        their code size)."""
        qd = self.fs.qualified_uri(f"{self._dir(name)}/data")

        def _lit_of(p: str) -> str:
            rel = p.rsplit("/data/", 1)[1]
            if self._DV_RANGE_SAFE_REL.match(rel):
                return f"{qd}/{rel}"  # encoding is the identity: concat
            return self.fs.qualified_uri(p)

        items = sorted((_lit_of(p), p, runs) for p, runs in range_routed)
        key = F.col("_metadata.file_path")
        ri = F.col("_metadata.row_index")
        canary = F.raise_error(
            F.concat(
                F.lit(
                    f"deletion-vector range dispatch on {name!r}: "
                    "row from unrecognized file "
                ),
                key,
            )
        ).cast("boolean")

        def _deleted(runs: list) -> "F.Column":
            # never NULL (row_index is non-null), so a NULL reaching
            # the coalesce below can ONLY mean a missed leaf
            c = F.lit(False)
            for s, e in runs:
                c = c | ri.between(F.lit(s), F.lit(e))
            return c

        def _tree(grp: list, lo: int, hi: int) -> "F.Column":
            if hi - lo == 1:
                uri, _, runs = grp[lo]
                return F.when(key == F.lit(uri), _deleted(runs))
            mid = (lo + hi) // 2
            return F.when(
                key < F.lit(grp[mid][0]), _tree(grp, lo, mid)
            ).otherwise(_tree(grp, mid, hi))

        parts: list[DataFrame] = []
        for grp in _dv_range_groups(items, self._DV_RANGE_GROUP_UNITS):
            cond = F.coalesce(_tree(grp, 0, len(grp)), canary)
            parts.append(
                self._read_raw_unmasked(
                    name, meta, [p for _, p, _ in grp]
                ).filter(~cond)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def table(self, name: str, version: int | None = None) -> DataFrame:
        """Lazy scan (reference S1). Plain DataFrame — filter/select compose
        lazily and Catalyst pushes them into the parquet scan.

        ``version=N`` time-travels: the scan is built from the archived
        manifest of commit N instead of the current one. Requires the
        table's ``retain_versions`` window to still cover N's data
        (``SnapshotExpiredError`` otherwise). Generations are immutable,
        so a retained old manifest reproduces the old table bit-for-bit."""
        meta = (
            self._load_meta(name)
            if version is None
            else self._version_meta(name, version)
        )
        return self._read_raw(name, meta).drop(_SEQ_COL)

    @staticmethod
    def _keep_latest(df: DataFrame, primary_keys: list[str]) -> DataFrame:
        """THE keep-latest-per-PK dedup (newest generation wins via
        ``_seq``): every consumer of snapshot semantics — optimize's
        rewrite, delete_where's absorb, the CDC snapshots, logical
        reads — shares this one window so the tie rule can never drift
        between them. Input must carry ``_seq``; it is preserved in the
        output."""
        w = W.partitionBy(*map(_col, primary_keys)).orderBy(F.desc(_SEQ_COL))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _read_logical(self, name: str, meta: TableMeta) -> DataFrame:
        """The manifest state's LOGICAL rows: latest per primary key when
        un-absorbed deltas shadow older rows (``table()`` exposes the raw
        duplicates until optimize()). Consumers that must see snapshot
        semantics (``update_where``'s matched set) go through here."""
        raw = self._read_raw(name, meta)
        if meta.primary_keys and meta.live_deltas:
            raw = self._keep_latest(raw, meta.primary_keys)
        return raw.drop(_SEQ_COL)

    def _version_meta(self, name: str, version: int) -> TableMeta:
        """Archived manifest of commit ``version``, validated: every data
        path AND dv sidecar it references must still exist on disk (a
        vacuumed sidecar must surface as SnapshotExpiredError, not a raw
        Spark path error mid-read — and restore must refuse to commit a
        manifest pointing at a reclaimed sidecar; r12 review find)."""
        meta = self._meta_from_raw(self._load_version(name, version))
        refs = self._visible_paths(name, meta) + [
            f"{self._dir(name)}/{e[0]}" for e in meta.dv_sidecars
        ]
        missing = [p for p in refs if not self.fs.exists(p)]
        if missing:
            raise SnapshotExpiredError(
                f"table {name!r} version {version}: data expired "
                f"({len(missing)} referenced generation/sidecar paths reclaimed, "
                f"e.g. {missing[0]!r}); raise retain_versions to keep "
                "snapshots readable longer"
            )
        return meta

    def restore(self, name: str, version: int) -> None:
        """Roll the table back to the state of commit ``version`` — as a
        NEW commit (roll-forward, the Delta RESTORE shape): the current
        manifest's visibility pointers are replaced with the archived
        ones, so history keeps the bad commits and a restore is itself
        undoable. Requires the snapshot's data to still be retained.
        ``table_stats`` (stamped against the abandoned version) are
        cleared; re-run analyze() after a restore."""
        old = self._version_meta(name, version)
        cur = self._load_meta(name)
        for f_name in (
            "schema_json",
            "partition_keys",
            "primary_keys",
            "committed",
            "live_deltas",
            "dirty_partitions",
            "all_dirty",
            "stats_columns",
            "bloom_columns",
            "zone_maps",
            "deletion_vectors",
            "dv_sidecars",
        ):
            setattr(cur, f_name, getattr(old, f_name))
        # stats describe a version this table no longer reflects
        cur.table_stats = {}
        # next_seq stays at the current high-water mark: sequence numbers
        # are monotonic forever, so post-restore writes can never collide
        # with generations any historical manifest references
        self._commit_meta(cur, None, action=f"restore(v{version})")

    def scan(
        self,
        name: str,
        where: dict[str, tuple] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Zone-map-pruned scan: ``where`` is a conjunction of predicates,
        one per column — an inclusive range ``(lo, hi)`` tuple/list
        (either bound may be None), a bare SCALAR for equality, or a
        SET of scalars for an IN-list.
        Result is EXACTLY ``table(name).filter(<where>)`` — the manifest's
        per-generation-leaf min/max stats (``stats_columns`` at create)
        are used to drop whole leaf directories from the read up front,
        and the full predicate is still applied to whatever is read.

        Equality and IN-list predicates additionally probe the per-leaf
        Bloom filters of ``bloom_columns`` tables: any leaf whose filter
        disproves the value (every value, for an IN-list) is dropped,
        which is what makes point lookups on high-cardinality ids prune
        (a min/max box over a hash-like column spans everything; its
        membership filter does not). False positives only cost reading a
        leaf the filter failed to rule out — never a wrong row.

        At 100 TB this is the Delta/Iceberg data-skipping move: the
        driver eliminates files from manifest metadata alone — no task is
        ever scheduled for a file the stats disprove — on top of the
        row-group skipping parquet footers already give the survivors."""
        meta = (
            self._load_meta(name)
            if version is None
            else self._version_meta(name, version)
        )
        where = dict(where or {})
        names = set(meta.schema.fieldNames())
        eq: dict = {}
        inlist: dict = {}
        for c, bounds in list(where.items()):
            if c not in names:
                raise ValueError(f"unknown column {c!r} in scan predicate")
            if isinstance(bounds, (set, frozenset)):
                if not bounds:
                    raise ValueError(
                        f"IN-list for {c!r} is empty — no row can match; "
                        "an empty scan needs no query"
                    )
                if None in bounds:
                    raise ValueError(
                        f"IN-list for {c!r} contains None — IN never "
                        "matches NULL; filter the result with isNull() instead"
                    )
                inlist[c] = sorted(bounds, key=repr)  # deterministic order
                # range-prune with the list's span when the values are
                # mutually comparable; a mixed-type list just skips the
                # min/max contribution (bloom still applies). Python's
                # min/max order is sound as a prune bound for every
                # same-type list the schema admits: int/float compare
                # numerically (matching the numeric stat encoding, signs
                # included), str compares by code point which agrees with
                # Spark's UTF-8 byte order on ASCII — and _zone_excludes
                # refuses to prune on any non-ASCII operand — and
                # date/datetime bounds pass through _prune_bound's
                # direction-aware coercion to the column's encoding
                # before any comparison. Mixed-type lists raise TypeError
                # here and contribute no range at all.
                try:
                    where[c] = (min(bounds), max(bounds))
                except TypeError:
                    del where[c]
            elif isinstance(bounds, (tuple, list)):
                if len(tuple(bounds)) != 2:
                    raise ValueError(
                        f"bounds for {c!r} must be (lo, hi), got {bounds!r}"
                    )
            elif bounds is None:
                raise ValueError(
                    f"scan predicate for {c!r} is None — equality with NULL "
                    "never matches; filter the result with isNull() instead"
                )
            else:
                # scalar: equality. Ranges prune via min/max below; the
                # Bloom probe and the == filter are built from eq.
                eq[c] = bounds
                where[c] = (bounds, bounds)
        # bounds coerced to each column's stat-encoding domain, used for
        # PRUNING only (the Spark filter below keeps the caller's values):
        # a datetime bound on a DateType column compares via Spark's
        # date→midnight-timestamp promotion, which 'YYYY-MM-DD' vs
        # 'YYYY-MM-DD HH:MM:SS' lexicographic order does not model
        where_prune: dict[str, tuple] = {}
        for c, (lo, hi) in where.items():
            dtype = meta.schema[c].dataType
            lo_p = _prune_bound(dtype, lo, "lo")
            hi_p = _prune_bound(dtype, hi, "hi")
            if lo_p is _NO_PRUNE or hi_p is _NO_PRUNE:
                continue  # unsound to compare: this column never excludes
            where_prune[c] = (lo_p, hi_p)
        # Bloom probes for equality/IN predicates on bloom columns: the k
        # positions depend on each leaf entry's (m, k), so build lazy
        # per-(m,k)-memoized position functions — one per probe VALUE,
        # listed per column (a leaf is excluded only when EVERY listed
        # value is disproven). The probes' Python types must MATCH the
        # column dtype: the filters were built from md5(CAST(col AS
        # STRING)), so a cross-type probe (int 5 against a string column
        # holding '05') hashes a different rendering than the rows
        # Spark's implicit-cast equality would match — pruning on it
        # would silently drop matching leaves. A column with ANY
        # mismatched/unrenderable value skips bloom pruning entirely
        # (that value can't be disproven, so the all-values-disproven
        # exclusion can never hold); the filter keeps Spark semantics.
        # one normalized {column -> probe values} view of the eq/IN
        # predicates, shared by bloom pruning and partition pruning so
        # the two can never desynchronize on probe normalization
        probes = {**{c: [v] for c, v in eq.items()}, **inlist}
        eq_positions: dict = {}
        for c, vals in probes.items():
            if c not in meta.bloom_columns:
                continue
            fns = []
            for v in vals:
                if not _bloom_probe_type_ok(meta.schema[c].dataType, v):
                    fns = []
                    break
                sval = _bloom_value_str(v)
                if sval is None:
                    fns = []
                    break

                def positions_for(m_bits, k, banks=1, sval=sval, memo={}):
                    # banked leaves (r13): the value's positions live in
                    # its own bank's word range — returned as GLOBAL bit
                    # positions (bank*m + local) so the caller's
                    # pos//64 / pos%64 word test needs no special case
                    if (m_bits, k, banks) not in memo:
                        base = _bloom_probe_positions(sval, m_bits, k)
                        if banks > 1:
                            off = _bloom_bank_of(sval, banks) * m_bits
                            base = [off + p for p in base]
                        memo[(m_bits, k, banks)] = base
                    return memo[(m_bits, k, banks)]

                fns.append(positions_for)
            if fns:
                eq_positions[c] = fns

        def _excludes(stats: dict) -> bool:
            if where_prune and _zone_excludes(stats, where_prune):
                return True
            return bool(eq_positions) and _bloom_entry_excludes(
                stats, eq_positions
            )

        # DRIVER-side partition pruning for equality/IN predicates on
        # partition keys: at 1M partitions, `kept` would otherwise carry
        # every committed path into the reader's analysis (seconds of
        # driver time and a giant file index) even when the predicate
        # names exactly one partition — Catalyst would prune the FILES
        # later, but the paths must not be enumerated at all. Only exact
        # hive-rendering matches prune, under the same probe-type ==
        # key-dtype rule as the bloom probes (Spark's cast-equality can
        # match rows whose dir spelling differs from the probe's);
        # RANGE predicates on partition keys are left to Spark — dir
        # names order as strings, not as the key's type.
        part_match: dict[str, set[str]] = {}
        for c, vals in probes.items():
            if c not in meta.partition_keys:
                continue
            dtype = meta.schema[c].dataType
            if all(
                _bloom_probe_type_ok(dtype, v)
                or (isinstance(dtype, T.BooleanType) and isinstance(v, bool))
                for v in vals
            ):
                part_match[c] = {_escape_partition_value(v) for v in vals}

        def _rel_excludes(rel: str) -> bool:
            if not part_match or not rel:
                return False
            segs = dict(s.split("=", 1) for s in rel.split("/"))
            return any(
                segs.get(c) is not None and segs[c] not in allowed
                for c, allowed in part_match.items()
            )

        # enumerate visible LEAF dirs with their zone-map keys
        visible = [
            (rel, s) for s in meta.live_deltas for rel in self._gen_rels(name, meta, s)
        ] + sorted(meta.committed.items())
        leaves: list[tuple[str, str]] = []
        for rel, s in visible:
            if _rel_excludes(rel):
                continue
            base = self._seq_dir(name, s)
            leaves.append(
                (base if rel == "" else f"{base}/{rel}", self._zone_key(s, rel))
            )
        # file-level zone keys (written by Z-ordered compactions) grouped
        # under their leaf: when present they BOTH refine pruning to file
        # granularity AND replace the leaf's LIST call — the manifest
        # already names every file
        file_keys: dict[str, list[str]] = {}
        for zk in meta.zone_maps:
            if _zone_key_file(zk) is not None:
                file_keys.setdefault(zk.rsplit("/", 1)[0], []).append(zk)
        kept: list[tuple[str, int, str, bool]] = []  # (rel, seq, path, is_file)
        for p, zk in leaves:
            head, _, zrel = zk.partition("/")
            zseq = int(head.split("=", 1)[1])
            per_file = file_keys.get(zk)
            if per_file:
                # r16: leaf-granularity generations carry BOTH a leaf
                # stats key and per-file INVENTORY keys (empty stats,
                # which can never exclude) — prune on the leaf stats
                # first, then use the inventory purely as the file
                # enumeration. Z-ordered generations have per-file
                # STATS keys and no leaf key (get() → None, no check).
                leaf_stats = meta.zone_maps.get(zk)
                if leaf_stats is not None and _excludes(leaf_stats):
                    continue
                for fk in per_file:
                    if not _excludes(meta.zone_maps.get(fk, {})):
                        kept.append(
                            (zrel, zseq, f"{p}/{fk.rsplit('/', 1)[1]}", True)
                        )
            elif not _excludes(meta.zone_maps.get(zk, {})):
                kept.append((zrel, zseq, p, False))

        if kept:
            # the vector build side prunes to the rels this scan can
            # produce (None = unpartitioned); `kept` in the memo key makes
            # the plan exact for any predicate that prunes to the same paths
            df = self._plan_memo(
                name,
                meta,
                "scan",
                tuple(kept),
                lambda: kept,
                {r for r, _, _, _ in kept} if meta.partition_keys else None,
            ).drop(_SEQ_COL)
        else:
            df = self.spark.createDataFrame([], meta.schema)
        cond = None
        for c, vals in inlist.items():
            piece = _col(c).isin(vals)
            cond = piece if cond is None else cond & piece
        for c, (lo, hi) in where.items():
            if c in eq:
                piece = _col(c) == F.lit(eq[c])
                cond = piece if cond is None else cond & piece
                continue
            if c in inlist:
                continue  # isin above IS the predicate; (lo,hi) was prune-only
            if lo is not None:
                piece = _col(c) >= F.lit(lo)
                cond = piece if cond is None else cond & piece
            if hi is not None:
                piece = _col(c) <= F.lit(hi)
                cond = piece if cond is None else cond & piece
        return df.filter(cond) if cond is not None else df

    def query(self, df: DataFrame):
        """Reference ``db.query(lazy) -> eager frame`` (pipelines/utils/data.py:12).
        Returns a pandas DataFrame; prefer staying in Spark when composing."""
        return df.toPandas()

    # -- upsert completion -------------------------------------------------
    def optimize(
        self,
        name: str,
        zorder_by: list[str] | None = None,
        zorder_files: int = 8,
        full: bool = False,
    ) -> None:
        """Deduplicate by primary key, keeping the latest inserted row
        (reference S4: 'Optimize table (deduplicate)',
        pipelines/portfolio_weights_flow.py:168-169).

        Only dirty partitions are rewritten, so the cost scales with the
        ingest, not the table (``full=True`` forces a whole-table
        rewrite — the re-clustering maintenance pass). The rewrite is a
        new ``_seq=K`` generation; the manifest repoints the rewritten
        partitions and drops the absorbed deltas in ONE metadata PUT, so
        readers switch from the old state to the new state atomically
        (never a mixture). The superseded generation dirs are deleted
        after the commit — a crash in that cleanup only leaves
        vacuumable orphans.

        ``zorder_by=[cols]`` lays the rewrite out Z-ordered (the Delta
        OPTIMIZE ZORDER move): rows are range-partitioned and sorted by
        the Morton interleave of the named numeric columns,
        ``zorder_files`` files per rewritten partition, and — when the
        table has ``stats_columns`` — zone maps are recorded PER FILE,
        so multi-dimensional range scans prune at file granularity with
        tight boxes in every Z dimension."""
        self._rewrite_dirty(
            name, want="optimize", zorder_by=zorder_by, zorder_files=zorder_files, full=full
        )

    def compact(
        self,
        name: str,
        zorder_by: list[str] | None = None,
        zorder_files: int = 8,
        full: bool = False,
    ) -> None:
        """Small-file compaction for PK-LESS append-only tables (the
        streaming-ingest sinks): merge every pending delta into the base
        generation of the partitions it touched, preserving EVERY row —
        duplicates included, because without primary keys there is no
        keep-latest rule and dropping rows would be data loss.

        Same dirty-partition economics and atomic commit as
        ``optimize()`` (cost scales with the ingest, not the table;
        readers flip in one manifest PUT; superseded dirs are reclaimed
        after the commit). The rewrite is AQE-REBALANCED instead of
        one-task-per-partition: skewed hive partitions split into
        advisory-sized files rather than one giant file, and
        unpartitioned tables coalesce their many small delta files into
        target-sized ones — the layout a 1000-executor job wants when a
        streaming sink has landed thousands of per-batch files.

        On a table WITH primary keys this behaves exactly as
        ``optimize()`` (keep-latest IS the correct merge there), so
        schedulers can call ``compact`` as the uniform maintenance
        entry point."""
        self._rewrite_dirty(
            name, want="compact", zorder_by=zorder_by, zorder_files=zorder_files, full=full
        )

    def _rewrite_dirty(
        self,
        name: str,
        *,
        want: str,
        zorder_by: list[str] | None,
        zorder_files: int,
        full: bool,
    ) -> None:
        """Shared dirty-partition rewrite behind ``optimize()`` (dedupe
        by PK) and ``compact()`` (merge-preserving): read the dirty
        partitions' bases + deltas pinned to one manifest, land the
        result as one new generation, repoint + absorb in one commit.

        The dedupe decision is made HERE, against the same manifest
        load the rewrite snapshots — deciding it in the public entry
        points opened a TOCTOU window where a rival that dropped the
        primary keys between the two loads made ``_keep_latest`` run
        with an empty window and collapse every dirty partition to one
        row."""
        meta = self._load_meta(name)
        dedupe = bool(meta.primary_keys)
        if want == "optimize" and not dedupe:
            return
        before = self._snapshot_meta(meta)
        if full:
            meta.all_dirty = True
        if not (meta.dirty_partitions or meta.all_dirty):
            return
        if zorder_by:
            names = set(meta.schema.fieldNames())
            for c in zorder_by:
                if c not in names:
                    raise ValueError(f"zorder column {c!r} not in schema")
                if c in meta.partition_keys:
                    raise ValueError(f"zorder column {c!r} is a partition key")
                if not isinstance(
                    meta.schema[c].dataType,
                    (
                        T.NumericType,
                        T.DateType,
                        T.TimestampType,
                        T.TimestampNTZType,
                        T.StringType,
                    ),
                ):
                    raise ValueError(
                        f"zorder column {c!r} must be numeric, date/"
                        f"timestamp or string (got "
                        f"{meta.schema[c].dataType.simpleString()})"
                    )
        # the rewrite reads the dirty partitions' bases (or the whole table
        # for full/all-dirty/unpartitioned rewrites)
        scope = (
            set(meta.dirty_partitions)
            if meta.partition_keys and not meta.all_dirty
            else None
        )
        raw = self._read_raw(name, meta)
        if scope is not None:
            raw = raw.filter(self._rel_filter(meta, sorted(scope)))
        out = self._keep_latest(raw, meta.primary_keys) if dedupe else raw
        if zorder_by:
            # Z-order layout: bucket bounds come from the (pruned) input
            # scan — a cheap column min/max — then rows range-partition
            # and sort on the Morton code, so each output file is a tight
            # box in every Z dimension
            ordinals = {
                c: _zorder_ordinal(meta.schema[c].dataType)(c) for c in zorder_by
            }
            baggs = []
            for c in zorder_by:
                baggs += [
                    F.min(ordinals[c]).alias(f"__mn__{c}"),
                    F.max(ordinals[c]).alias(f"__mx__{c}"),
                ]
            b = raw.agg(*baggs).collect()[0]
            zcols = [
                (ordinals[c], b[f"__mn__{c}"], b[f"__mx__{c}"]) for c in zorder_by
            ]
            n_rewritten = len(meta.dirty_partitions) or len(meta.committed) or 1
            nparts = n_rewritten * int(zorder_files)
            out = out.withColumn("_z", _morton_expr(zcols))
            range_keys = [_col(k) for k in meta.partition_keys] + [F.col("_z")]
            out = (
                out.repartitionByRange(nparts, *range_keys)
                .sortWithinPartitions(*range_keys)
                .drop("_z")
            )
        elif dedupe:
            # Lay files out PK-sorted: cluster rows by hive-partition value
            # (one task per rewritten partition → one file, not one per
            # upstream task) and sort by primary key inside, so parquet
            # row-group min/max stats are tight and PK-range scans skip
            # whole row groups — the compaction-time data-skipping layout a
            # Delta OPTIMIZE ZORDER gives, for the single-key-prefix case.
            cluster = list(meta.partition_keys) + list(meta.primary_keys)
            out = (
                out.repartition(*map(_col, meta.partition_keys))
                if meta.partition_keys
                else out
            ).sortWithinPartitions(*map(_col, cluster))
        else:
            # compact(): no PK to cluster by — AQE-rebalance so a skewed
            # hive partition splits into advisory-sized files instead of
            # one giant one, and an unpartitioned table's thousands of
            # small delta files coalesce to target-sized output. The
            # writer's own dynamic-partition sort handles directory
            # routing; no explicit sort is needed without a PK.
            out = (
                out.hint("rebalance", *meta.partition_keys)
                if meta.partition_keys
                else out.hint("rebalance")
            )
        seq = self._reserve_seq(name, meta)
        token = self._write_seq(name, meta, out.drop(_SEQ_COL), seq)
        rels, zone = self._spark_written(name, meta, seq, token, bool(zorder_by))
        verb = "optimize" if dedupe else "compact"
        action = f"{verb}(zorder={zorder_by})" if zorder_by else verb
        self._commit_replace(name, meta, before, seq, token, rels, zone, scope, action)

    def _clean_superseded(
        self,
        name: str,
        meta: TableMeta,
        old_committed: dict[str, int],
        old_deltas: list[int],
    ) -> None:
        """Post-commit space reclaim of generation dirs the new manifest no
        longer references. Purely best-effort: a crash here leaves orphans
        for vacuum(), never an inconsistent table. (Like any vacuum, this
        invalidates lazy DataFrames planned against the old manifest.)

        Under snapshot retention (``retain_versions > 0``) nothing is
        deleted here: superseded generations stay readable for time
        travel until ``vacuum()`` expires them past the window."""
        if meta.retain_versions > 0:
            return
        for s in old_deltas:
            self.fs.delete(self._seq_dir(name, s))
        for rel, s in old_committed.items():
            if meta.committed.get(rel) != s:
                base = self._seq_dir(name, s)
                self.fs.delete(base if rel == "" else f"{base}/{rel}")

    # logical-plan nodes whose recomputation is expensive (shuffles, wide
    # aggregations, python kernels): when the upsert/insert input plan
    # contains one, the small-batch probe must not trigger a second full
    # execution in the distributed fallback — probe and write then share
    # one localCheckpointed input instead
    _EXPENSIVE_NODE_RE = re.compile(
        r"\b(Join|Aggregate|Window|Sort\b|Deduplicate|Repartition"
        r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|MapInPandas"
        r"|FlatMapGroupsWithState|MapPartitions|CoGroup)"
    )

    def _shared_probe_input(self, df: DataFrame) -> DataFrame:
        """Return a DataFrame safe to execute twice (probe + fallback
        write). Scan/filter/project-rooted plans pass through — a probe's
        ``limit`` stops after a partition or two and the fallback rescans
        cheaply. Plans containing shuffles/aggregations/python kernels are
        wrapped in ``localCheckpoint(eager=False)``, which is NOT lazy
        under AQE (``session.py`` enables it): the call plans the query
        adaptively, so every shuffle/broadcast stage below the final one
        runs right here on the caller's thread (a group-by: 1 job inside
        the call with AQE on, 0 with it off). The final stage runs at the
        probe's first action and stores every partition once in executor
        memory-and-disk; the fallback write consumes the stored
        partitions instead of re-running the upstream DAG (the ~2× cost
        on the heavy-write path the r6 verdict flagged). The checkpoint
        cuts lineage: blocks lost with an executor cannot be recomputed,
        so the write fails instead. The blocks are released by the
        ContextCleaner when the DataFrame goes out of scope after the
        write."""
        try:
            # analyzed (not optimized) plan: same logical node names the
            # regex matches, without paying a SECOND optimizer run per
            # upsert just to decide — execution optimizes anyway, and a
            # node the optimizer would have eliminated only costs a
            # harmless extra checkpoint (r7 verdict #2: the plan-render
            # probe was ~a third of the commit-overhead growth)
            plan = df._jdf.queryExecution().analyzed().toString()
        except Exception:
            return df
        if not self._EXPENSIVE_NODE_RE.search(plan):
            return df
        return df.localCheckpoint(eager=False)

    def upsert(self, name: str, df: DataFrame) -> None:
        """The reference's writer idiom: insert(append) + optimize().

        CONTRACT for partitioned PK tables whose partition keys are not
        all part of the PK (e.g. prices partitioned by year(date) with
        PK (ticker, date)): a primary key's partition-key values must be
        STABLE across upserts — the Hudi non-global-index contract. A
        batch that re-lands an existing key under a DIFFERENT partition
        value leaves the old copy in a base partition the pruned
        optimize() never reads, a permanent duplicate. Functionally
        derived partition values (year = year(date), date ∈ PK) satisfy
        this for free; to deliberately MOVE rows, use update_where
        (whose partition-moving path marks the source partitions dirty
        in the same commit) and audit with analyze()['pk_duplicates'].

        Small batches take a driver-side fast path: the two-Spark-job
        shape (staging write + dedup rewrite) costs ~1 s of pure job
        overhead for a 10-row batch, which dominates incremental daily
        flows (~13 tiny upserts/day). When the batch is small AND the
        committed bases it touches are small, the merge is done on the
        driver with pyarrow through the same Hadoop FS layer — one tiny
        collect, zero distributed jobs, same append-only generation
        layout and the same single-manifest-PUT commit point. Large
        batches or large bases fall through to the distributed path, so
        at 100 TB the protocol stays Spark-side where it belongs.

        The probe never double-executes an expensive upstream plan: when
        the input's optimized plan contains shuffle/aggregation/kernel
        nodes, probe and fallback share one localCheckpointed input
        (``_shared_probe_input``; under AQE its upstream shuffle stages
        run inside that call), so the upstream DAG runs exactly once
        however large the batch turns out to be."""
        df = self._shared_probe_input(df)
        res = self._fast_upsert(name, df)
        if res is True:
            return
        self.insert(name, df, allow_fast=(res == "structural"))
        self.optimize(name)

    # driver-side fast-path guards: a batch bigger than this many rows, or
    # touched committed bases bigger than this many bytes, go distributed
    _FAST_UPSERT_MAX_ROWS = 20_000
    _FAST_UPSERT_MAX_BASE_BYTES = 64 << 20

    # partition-column types whose Python str() rendering matches Spark's
    # hive-dir rendering (CAST AS STRING) — double/timestamp spellings
    # differ, so those partition layouts stay on the distributed path
    _FAST_PART_TYPES = (
        T.ByteType,
        T.ShortType,
        T.IntegerType,
        T.LongType,
        T.StringType,
        T.BooleanType,
        T.DateType,
    )

    def _fast_upsert(self, name: str, df: DataFrame):
        """Attempt the driver-side small-commit path. Returns True iff
        committed; otherwise a fallback hint for upsert(): "structural"
        (the fast path was unavailable for reasons that say nothing about
        the batch — no PK, pending deltas — so insert() may still try its
        own fast path) or "unsuitable" (the small-batch probe or merge
        already failed, so insert() must NOT probe again — the probe
        executes the upstream plan).

        Protocol-equivalent to insert+optimize: the merged output lands in
        a fresh ``_seq=K`` generation (append-only, attempt-token guarded),
        visibility flips in one ``_commit_meta`` PUT, and superseded base
        dirs are deleted post-commit (crash ⇒ vacuumable orphans). Only
        engaged when no un-optimized deltas are pending, so it never has
        to absorb another write's state."""
        meta = self._load_meta(name)
        if not meta.primary_keys:
            return "structural"
        if meta.live_deltas or meta.dirty_partitions or meta.all_dirty:
            return "structural"  # pending deltas: let optimize() absorb them
        if meta.deletion_vectors or meta.dv_sidecars:
            # r12 review find (a REAL r11 wrong answer): the driver-side
            # pyarrow merge reads the committed base files RAW — it
            # would concatenate vector-deleted rows into the new
            # generation, whose commit then prunes the vectors (the old
            # generation is no longer visible) and silently RESURRECTS
            # the deleted rows. The distributed path reads through
            # _read_raw (DV-masked), so any table carrying vectors goes
            # distributed until a rewrite materializes them.
            return "structural"
        before = self._snapshot_meta(meta)
        probed = self._probe_small_batch(meta, df)
        if probed is None:
            return "unsuitable"
        batch, arrow_schema = probed
        if batch.num_rows == 0:
            return True  # empty upsert: nothing to write or commit
        seq = self._reserve_seq(name, meta)
        seq_dir = self._seq_dir(name, seq)
        try:
            merged = self._fast_merge_write(meta, batch, arrow_schema, seq_dir)
        except _FastPathUnsuitable:
            self.fs.delete(seq_dir)  # nothing committed; dir is orphan-safe
            return "unsuitable"
        if merged is None:
            # committed bases too big for a driver merge — the BATCH
            # itself is small, so insert()'s delta fast path still applies
            return "structural"
        rels, zone = merged
        token = f"{seq_dir}/_attempt-{uuid.uuid4().hex}"
        self.fs.write_text(token, "")
        # the merge read exactly the committed bases of the rels it wrote
        self._commit_replace(
            name, meta, before, seq, token, rels, zone, set(rels), "upsert"
        )
        return True

    def _probe_small_batch(self, meta, df):
        """Shared fast-path probe: partition-type renderability check,
        arrow schema resolution, and a bounded ``limit().toArrow()``
        collect. Returns ``(batch, arrow_schema)`` or None when the
        distributed path should run instead."""
        declared = meta.schema
        for k in meta.partition_keys:
            if not isinstance(declared[k].dataType, self._FAST_PART_TYPES):
                return None
        try:
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(declared)
        except Exception:
            return None
        try:
            batch = df.limit(self._FAST_UPSERT_MAX_ROWS + 1).toArrow()
        except Exception:
            return None
        if batch.num_rows > self._FAST_UPSERT_MAX_ROWS:
            return None
        return batch, arrow_schema

    @staticmethod
    def _cast_and_group(meta, batch, arrow_schema):
        """Cast an arrow batch to the declared schema and group its row
        indices by the hive rel dir they land in. Raises
        _FastPathUnsuitable on conversion surprises."""
        import pyarrow as pa

        declared = meta.schema
        part_cols = list(meta.partition_keys)
        try:
            batch = batch.select(declared.fieldNames())
            batch = batch.cast(
                pa.schema(
                    [
                        pa.field(f.name, arrow_schema.field(f.name).type)
                        for f in declared.fields
                    ]
                )
            )
        except Exception as e:
            raise _FastPathUnsuitable(str(e)) from e
        if part_cols:
            cols = [batch.column(c).to_pylist() for c in part_cols]
            groups: dict[str, list[int]] = {}
            # rel strings memoized by value tuple (r16): batches carry
            # few distinct partitions next to their row count, and the
            # per-row escape/format work was ~1/3 of this function's
            # profiled wall; partition values are scalars, so the
            # tuple is always hashable
            rel_of: dict[tuple, str] = {}
            for i in range(batch.num_rows):
                key = tuple(col[i] for col in cols)
                rel = rel_of.get(key)
                if rel is None:
                    rel = rel_of[key] = _hive_rel(part_cols, key)
                groups.setdefault(rel, []).append(i)
        else:
            groups = {"": list(range(batch.num_rows))}
        return batch, groups

    def _write_rel_file(self, table, rel_dir) -> str:
        """Write one leaf's parquet file; returns the FILENAME so the
        caller can record the per-file inventory key with zero extra
        I/O (r16 — the fast paths know every file they write)."""
        import io

        import pyarrow.parquet as pq

        buf = io.BytesIO()
        pq.write_table(table, buf, compression="snappy")
        self.fs.mkdirs(rel_dir)
        fn = f"part-00000-{uuid.uuid4().hex}.parquet"
        self.fs.write_bytes(f"{rel_dir}/{fn}", buf.getvalue())
        return fn

    def _fast_insert(
        self,
        name: str,
        meta: TableMeta,
        df: DataFrame,
        mode: str,
        before: TableMeta,
    ) -> bool:
        """Driver-side small-append path; True iff committed. Mirrors the
        distributed insert exactly — new ``_seq=K`` delta generation,
        attempt token, the same ``_commit_append`` — minus the Spark
        write job."""
        probed = self._probe_small_batch(meta, df)
        if probed is None:
            return False
        batch, arrow_schema = probed
        seq = self._reserve_seq(name, meta)
        seq_dir = self._seq_dir(name, seq)
        token = None
        written_rels: list[str] = []
        new_zone: dict[str, dict[str, list]] = {}
        if batch.num_rows > 0:
            import pyarrow as pa

            try:
                batch, groups = self._cast_and_group(meta, batch, arrow_schema)
            except _FastPathUnsuitable:
                return False
            part_cols = list(meta.partition_keys)
            file_names = [f.name for f in meta.schema.fields if f.name not in part_cols]
            self.fs.delete(seq_dir)
            body = batch.select(file_names)
            inv_room = self._FILE_INVENTORY_CAP - sum(
                1 for zk in meta.zone_maps if _zone_key_file(zk) is not None
            )
            inv_complete = True
            for rel, idx in groups.items():
                rows = body.take(pa.array(idx, type=pa.int64()))
                fn = self._write_rel_file(
                    rows, seq_dir if rel == "" else f"{seq_dir}/{rel}"
                )
                written_rels.append(rel)
                if meta.stats_columns or meta.bloom_columns:
                    new_zone[self._zone_key(seq, rel)] = self._arrow_leaf_stats(
                        meta, rows
                    )
                # r16: the fast path KNOWS its one file per leaf — the
                # per-file inventory key costs no I/O at all here
                if inv_room > 0:
                    new_zone[f"{self._zone_key(seq, rel)}/{fn}"] = {}
                    inv_room -= 1
                else:
                    inv_complete = False
            if inv_complete and part_cols:
                # same generation-completeness marker as the slow path
                new_zone[self._zone_key(seq, _INV_COMPLETE)] = {}
            token = f"{seq_dir}/_attempt-{uuid.uuid4().hex}"
            self.fs.write_text(token, "")
        self._commit_append(
            name, meta, before, seq, token, written_rels, new_zone, mode
        )
        return True

    def _fast_merge_write(self, meta, batch, arrow_schema, seq_dir):
        """Driver-side merge of a small arrow batch with the committed
        bases of the partitions it touches; writes the merged parquet
        files under ``seq_dir``. Returns (the written rels, zone-map
        entries for the written leaves), or None when a size guard says
        to go distributed. Raises _FastPathUnsuitable on any conversion
        surprise (caller falls back before anything is committed)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        declared = meta.schema
        part_cols = list(meta.partition_keys)
        file_fields = [f for f in declared.fields if f.name not in part_cols]
        pk_in_file = [k for k in meta.primary_keys if k not in part_cols]
        try:
            file_schema = pa.schema(
                [pa.field(f.name, arrow_schema.field(f.name).type) for f in file_fields]
            )
        except Exception as e:
            raise _FastPathUnsuitable(str(e)) from e
        batch, groups = self._cast_and_group(meta, batch, arrow_schema)

        # size guard on the committed bases this merge must read
        name = meta.name
        base_paths: dict[str, list[str]] = {}
        total_base = 0
        for rel in groups:
            s = meta.committed.get(rel)
            if s is None:
                base_paths[rel] = []
                continue
            d = self._seq_dir(name, s) + ("" if rel == "" else f"/{rel}")
            files = [
                (f"{d}/{n}", sz)
                for n, sz in self.fs.list_files(d)
                if n.endswith(".parquet") and not n.startswith(("_", "."))
            ]
            base_paths[rel] = [p for p, _ in files]
            total_base += sum(sz for _, sz in files)
        if total_base > self._FAST_UPSERT_MAX_BASE_BYTES:
            return None

        import numpy as np

        self.fs.delete(seq_dir)
        batch_files_only = batch.select([f.name for f in file_fields])
        rels: list[str] = []
        new_zone: dict[str, dict[str, list]] = {}
        seq = int(seq_dir.rsplit("=", 1)[1])
        inv_room = self._FILE_INVENTORY_CAP - sum(
            1 for zk in meta.zone_maps if _zone_key_file(zk) is not None
        )
        try:
            for rel, idx in groups.items():
                tables = []
                for path in base_paths[rel]:
                    t = pq.read_table(pa.BufferReader(self.fs.read_bytes(path)))
                    tables.append(t.select([f.name for f in file_fields]).cast(file_schema))
                tables.append(batch_files_only.take(pa.array(idx, type=pa.int64())))
                combined = pa.concat_tables(tables)
                if pk_in_file:
                    key_df = combined.select(pk_in_file).to_pandas()
                    # base rows precede batch rows ⇒ keep='last' is keep-newest
                    keep = key_df.drop_duplicates(subset=pk_in_file, keep="last")
                    # PK-sorted layout, same as optimize()'s compaction
                    order = keep.sort_values(pk_in_file, kind="mergesort").index.to_numpy()
                else:
                    # PK ⊆ partition cols: every row in this rel shares one
                    # PK value — keep only the newest row
                    order = np.array([combined.num_rows - 1])
                out = combined.take(pa.array(order, type=pa.int64()))
                fn = self._write_rel_file(
                    out, seq_dir if rel == "" else f"{seq_dir}/{rel}"
                )
                rels.append(rel)
                if meta.stats_columns or meta.bloom_columns:
                    new_zone[self._zone_key(seq, rel)] = self._arrow_leaf_stats(
                        meta, out
                    )
                # r16 per-file inventory: one known file per leaf, zero
                # I/O, same cap as _collect_file_inventory
                if inv_room > 0:
                    new_zone[f"{self._zone_key(seq, rel)}/{fn}"] = {}
                    inv_room -= 1
        except Exception as e:
            raise _FastPathUnsuitable(str(e)) from e
        return rels, new_zone

    def vacuum(self, name: str | None = None, grace_s: int = 3600) -> list[str]:
        """Reclaim generation directories the manifest does not reference —
        the leavings of writes that crashed before their commit (or of a
        cleanup that crashed after one). Returns the removed paths.

        ``grace_s`` is the concurrency guard (the Delta VACUUM
        retention-hours move): an IN-FLIGHT writer's generation is
        unreferenced until its commit, so directories modified within
        the grace window are skipped — only dirs that have sat
        unreferenced AND untouched for ``grace_s`` seconds are provably
        abandoned (a write that stalls longer than the grace then loses
        its race via the attempt-token check at commit, never silently).
        Pass 0 only when no writers can be in flight (tests,
        maintenance windows).

        ``_claims/`` files are deliberately NOT vacuumed: a claim for a
        seq ≥ the current next_seq may belong to an in-flight writer,
        and next_seq alone cannot prove otherwise — deleting one would
        let a third writer re-claim the number and clobber the in-flight
        generation. They are one empty object per generation (the same
        growth rate as the `_history/` audit archive).

        Under snapshot retention the reachable set is the UNION of the
        current manifest and the archived manifests of the last
        ``retain_versions`` commits — vacuum is also the snapshot
        EXPIRY: generations referenced only by versions older than the
        window are reclaimed here (their history JSONs stay as audit
        records; time-traveling to them raises SnapshotExpiredError).

        Two guards make this safe next to live writers (r8, closing the
        r7 advisory): the grace mtime is the MAX over the generation
        dir and every file inside it (object-store connectors report
        synthetic/zero mtimes for directories, which would silently
        disable a dir-only guard), and the CURRENT manifest is re-read
        immediately before each delete — a generation committed between
        vacuum's initial manifest load and its delete pass is seen and
        spared (one metadata GET per deletion; deletions are rare). The
        residual window is a reference committed AND superseded again
        between that re-read and the delete — two commits inside one
        round-trip, additionally covered by the grace guard wherever
        mtimes work."""
        import time as _time

        removed = []
        cutoff_ms = (_time.time() - grace_s) * 1000.0
        tables = [name] if name else self.tables()
        for t in tables:
            # legacy staging dirs from the pre-manifest protocol
            for leftover in (".compact_tmp", ".delete_tmp"):
                p = f"{self._dir(t)}/{leftover}"
                if self.fs.exists(p):
                    self.fs.delete(p)
                    removed.append(p)
            meta = self._load_meta(t)
            live: set[int] = set()
            base_rels: dict[int, set[str]] = {}
            live_sidecars: set[str] = set()

            def _absorb(live_deltas, committed, dv_sidecars=None) -> None:
                live.update(live_deltas or [])
                for rel, s in (committed or {}).items():
                    if rel == "":
                        live.add(s)
                    else:
                        base_rels.setdefault(s, set()).add(rel)
                for e in dv_sidecars or []:
                    live_sidecars.add(e[0])

            _absorb(meta.live_deltas, meta.committed, meta.dv_sidecars)
            if meta.retain_versions > 0:
                floor = max(0, meta.version - meta.retain_versions)
                # archived anchors AND segmented-mode intermediate commits:
                # a generation referenced only by a mid-segment retained
                # version must survive vacuum for time travel to hold.
                # Relocated segments (_history/segments/, r9) count too —
                # omitting them reclaimed generations referenced only by
                # a mid-segment version past a checkpoint, breaking the
                # retain_versions contract inside the window (r10 fix).
                # Contiguous versions FOLD FORWARD one diff segment at a
                # time (_fold_window, shared with history()): the whole
                # window costs one anchor reconstruction + O(window)
                # segment reads, not a full manifest materialization
                # per version.
                window = sorted(
                    v
                    for v in set(self._history_versions(t))
                    | set(self._log_segments(t))
                    | set(self._archived_segments(t))
                    if floor <= v < meta.version
                )
                for _v, raw in self._fold_window(t, window):
                    _absorb(
                        raw.get("live_deltas"),
                        raw.get("committed"),
                        raw.get("dv_sidecars"),
                    )
            data_dir = f"{self._dir(t)}/data"
            candidates: list[tuple[str, int, str | None]] = []
            for d in self.fs.list_subdirs(data_dir):
                if not d.startswith(f"{_SEQ_COL}="):
                    continue
                s = int(d.split("=", 1)[1])
                if s in live:
                    continue
                if grace_s and self.fs.max_mtime(f"{data_dir}/{d}") > cutoff_ms:
                    continue  # possibly an in-flight writer's generation
                rels = base_rels.get(s)
                if rels is None:
                    candidates.append((f"{data_dir}/{d}", s, None))
                elif meta.partition_keys:
                    # partially-referenced base generation: drop only the
                    # partition subdirs no longer pointed at
                    for rel in self._gen_rels(t, meta, s):
                        if rel not in rels:
                            candidates.append((f"{data_dir}/{d}/{rel}", s, rel))
            for path, s, rel in candidates:
                # last-moment liveness re-check against the CURRENT
                # manifest: spare anything a commit referenced since our
                # initial load (in-flight writers finish; mtime-blind
                # object stores still don't lose committed data)
                fresh = self._meta_from_raw(self._read_meta_raw(t))
                if s in fresh.live_deltas:
                    continue
                if rel is None and (
                    s in fresh.committed.values() or s in fresh.live_deltas
                ):
                    continue
                if rel is not None and fresh.committed.get(rel) == s:
                    continue
                self.fs.delete(path)
                removed.append(path)
            # DV sidecar sweep (r12): reclaim dv/ files no manifest in
            # the retained window references — the leavings of pruned
            # (materialized) vectors and of DV writes whose commit lost
            # a race. Same guards as generations: grace mtime + a
            # last-moment re-read sparing anything committed since.
            dv_dir = f"{self._dir(t)}/dv"
            if self.fs.exists(dv_dir):
                for d in self.fs.list_subdirs(dv_dir):
                    rel_name = f"dv/{d}"
                    if rel_name in live_sidecars:
                        continue
                    if grace_s and self.fs.max_mtime(f"{dv_dir}/{d}") > cutoff_ms:
                        continue  # possibly an in-flight writer's sidecar
                    fresh = self._meta_from_raw(self._read_meta_raw(t))
                    if any(e[0] == rel_name for e in fresh.dv_sidecars):
                        continue
                    self.fs.delete(f"{dv_dir}/{d}")
                    removed.append(f"{dv_dir}/{d}")
        return removed

    def _write_vectors(
        self,
        name: str,
        meta: TableMeta,
        before: TableMeta,
        pred,
        mode: str,
        verb: str,
        transformed=None,
    ) -> bool:
        """The one deletion-vector write: ``delete_where``'s, and with
        ``transformed`` ``update_where``'s merge-on-read (PK-less
        tables). True iff committed, or nothing matched; False = over
        the vector budget in 'auto' mode, and the caller falls back to
        the rewrite.

        The matched rows come off the DV-masked scan as (file, position)
        pairs, so re-deleting vectored rows is a no-op and successive
        deletes on one file merge. They are evaluated exactly once: an
        eager ``localCheckpoint`` bounded at ``cap + 1`` rows feeds the
        budget count, the vectors and the transformed copies, so a
        nondeterministic predicate cannot desync them. The checkpointed
        blocks are released by the ContextCleaner when ``matched`` goes
        out of scope (the lifecycle _shared_probe_input documents).

        The budget bounds the TABLE's total vectored positions, inline
        plus sidecars, not only this call's: a per-call cap alone lets
        under-cap deletes pile vectors onto a partition no compaction
        touches, and every read would broadcast the lot. Positions ride
        base64-inline in the manifest while the inline total stays
        within ``_DV_INLINE_MAX_POSITIONS``; past it this call's
        positions go to a parquet sidecar written executor-side. An
        update's transformed copies land as one live delta. Vectors,
        delta and file row counts commit in one manifest PUT, so a
        reader sees the old rows or the new rows, never both."""
        cap = self._DV_AUTO_MAX_ROWS
        vis = self._visible_paths(name, meta)
        if not vis:
            return True  # empty table: nothing matches
        matched = self._apply_dvs(
            self._read_raw_unmasked(name, meta, vis), name, meta, keep_pos=True
        ).filter(pred)
        if transformed is None:
            matched = matched.select("__dv_f", "__dv_p")
        matched = matched.limit(cap + 1).localCheckpoint(eager=True)
        n = matched.count()
        if n == 0:
            return True
        inline_now, side_now = self._dv_position_totals(meta)
        existing = inline_now + side_now
        if existing + n > cap:
            if mode == "dv":
                over = f"{cap}+" if n > cap else str(n)
                raise ValueError(
                    f"{verb}(mode='dv') on {name!r} matched more than the "
                    f"vector bound allows ({existing} accumulated + {over} "
                    f"new vs cap {cap}) — run optimize()/compact() to "
                    "materialize the backlog, or use mode='rewrite'/'auto'."
                )
            return False
        token = None
        if transformed is not None:
            seq = self._reserve_seq(name, meta)
            token = self._write_seq(
                name, meta, transformed(matched.drop("__dv_f", "__dv_p", _SEQ_COL)), seq
            )
            if token is None:
                # unreachable (matched is checkpointed non-empty), but
                # committing the vectors alone would lose the rows
                raise RuntimeError(
                    f"{verb} on {name!r}: delta write produced no "
                    "directory for a non-empty matched set"
                )
            self._stage_delta(meta, seq, token, *self._spark_written(name, meta, seq, token))
        ids = matched.select("__dv_f", "__dv_p")
        if inline_now + n > min(self._DV_INLINE_MAX_POSITIONS, cap):
            entry = self._write_dv_sidecar(name, ids)
            meta.dv_sidecars.append(entry)
            files = set(entry[4] or ())
            rels = set(entry[3]) if entry[3] is not None else self._sidecar_rels(name, [entry])
        else:
            by_file: dict[str, list[int]] = {}
            for r in ids.collect():
                by_file.setdefault(r["__dv_f"], []).append(int(r["__dv_p"]))
            for f, pos in by_file.items():
                ent = meta.deletion_vectors.get(f)
                if ent is not None:
                    pos = pos + _dv_decode(ent)
                meta.deletion_vectors[f] = _dv_encode(pos)
            files = {_uri_unquote(f) for f in by_file}
            # decoded: the rebase guard compares them with the raw
            # committed pointers
            rels = {_uri_unquote(f.rsplit("/", 1)[0].partition("/")[2]) for f in by_file}
        self._dv_record_file_rows(name, meta, files)
        self._merge_dv_sidecars(name, meta)
        base = rels if meta.partition_keys else None
        rebase = self._make_rebase(before, meta, "rmw", base_rels=base)
        self._commit_meta(meta, token, action=f"{verb}(dv)", rebase=rebase)
        return True

    def delete_where(self, name: str, predicate, mode: str = "rewrite") -> None:
        """Targeted delete (beyond the reference's surface; needed for any
        real lakehouse — corrections, retention, GDPR erasure).

        ``predicate`` is a Column (or SQL string) selecting rows to REMOVE.

        ``mode='rewrite'`` (default): rewrites only the affected
        partitions (those with matching rows, plus any with un-compacted
        delta data — absorbed here, with PK dedup when the table has
        primary keys, exactly as optimize() would) into a new
        generation; one manifest PUT commits. Cost ∝ affected
        partitions, not table size.

        ``mode='dv'``: DELETION VECTORS — the Delta/Iceberg-v2
        metadata-only row delete. No data is rewritten: the matching
        rows' (file, row position) pairs are recorded in the manifest
        and every subsequent read anti-joins them out, so erasing 100
        rows from a 1 TB partition costs one metadata PUT instead of a
        partition rewrite. The deletes materialize physically (and the
        vectors drop) at the next optimize()/compact()/rewrite of the
        partition. Two tiers (r12): matched sets up to
        ``_DV_INLINE_MAX_POSITIONS`` (100k) ride base64-inline in the
        manifest; bigger sets are written executor-side to an immutable
        parquet sidecar under ``<table>/dv/`` (the manifest keeps a
        pointer + count), up to a TOTAL of ``_DV_AUTO_MAX_ROWS`` (1M)
        vectored positions per call and cumulatively — past that the
        broadcast build side stops being cheap and the call raises;
        wide deletes belong to the rewrite path. PK tables must
        be compacted (no pending deltas): with a PK shadow pending,
        vector-deleting the newest copy would resurrect the shadowed
        older row, which the rewrite path absorbs instead.

        ``mode='auto'``: 'dv' when eligible and under the row bound,
        else 'rewrite'.
        """
        if mode not in ("rewrite", "dv", "auto"):
            raise ValueError(f"mode must be 'rewrite', 'dv' or 'auto', got {mode!r}")
        meta = self._load_meta(name)
        before = self._snapshot_meta(meta)
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        # NULL predicate results must mean "keep", not silently vanish
        pred = F.coalesce(pred, F.lit(False))
        if mode in ("dv", "auto"):
            dv_ok = not (meta.primary_keys and meta.live_deltas)
            if not dv_ok and mode == "dv":
                raise ValueError(
                    f"delete_where(mode='dv') on {name!r}: the table has "
                    "primary keys with pending deltas — a vector delete of "
                    "the newest copy would resurrect the shadowed older "
                    "row. optimize() first, or use mode='rewrite'/'auto'."
                )
            if dv_ok and self._write_vectors(
                name, meta, before, pred, mode, "delete_where"
            ):
                return
            # auto fell back (over the row bound, or PK shadows pending)
            meta = self._load_meta(name)
            before = self._snapshot_meta(meta)
        raw = self._read_raw(name, meta)
        scope = None
        if meta.partition_keys:
            # the scope = partitions with matching rows (pruned aggregate,
            # tiny collect) ∪ partitions with live delta data (the rewrite
            # absorbs the deltas, so every partition they touch must come
            # along — they are exactly the dirty set)
            scope = self._rels_of(raw.filter(pred), meta.partition_keys) | set(
                meta.dirty_partitions
            )
            if not scope:
                return
            raw = raw.filter(self._rel_filter(meta, sorted(scope)))
        if meta.primary_keys:
            raw = self._keep_latest(raw, meta.primary_keys)
        seq = self._reserve_seq(name, meta)
        token = self._write_seq(name, meta, raw.filter(~pred).drop(_SEQ_COL), seq)
        rels, zone = self._spark_written(name, meta, seq, token)
        self._commit_replace(
            name, meta, before, seq, token, rels, zone, scope, "delete_where"
        )

    def update_where(
        self, name: str, predicate, assignments: dict, mode: str = "auto"
    ) -> None:
        """Targeted UPDATE: set ``assignments`` ({column: Column or SQL
        string}) on every row matching ``predicate``.

        PK tables: an update IS an upsert of the transformed matched
        LOGICAL rows — the primary key shadows the old copy, so no data
        is rewritten and no vectors are needed. Assigning a primary-key
        column is refused (that is a delete+insert, not an update: the
        old key's row would survive). Assigning a PARTITION key (legal
        when it is outside the PK) takes a dedicated path (r12): the
        transformed copies append WITH the matched rows' source
        partitions marked dirty in the same commit, so the optimize()
        that absorbs the delta keep-latests across source and target
        together — routing through plain upsert stranded the stale
        source-partition copy forever (pruned optimize never read it).

        PK-less tables, ``mode='dv'``: merge-on-read — the matched rows'
        originals are vector-deleted and their transformed copies land
        as ONE new delta generation, both in a single atomic manifest
        commit (a reader sees the old rows or the new rows, never both,
        never neither). Same tiers and bounds as ``delete_where``:
        inline up to ``_DV_INLINE_MAX_POSITIONS``, executor-side parquet
        sidecars past it, ``_DV_AUTO_MAX_ROWS`` total per call and
        cumulatively. ``mode='rewrite'`` rewrites
        the affected partitions exactly like ``delete_where`` but keeps
        the matched rows transformed; ``mode='auto'`` picks 'dv' when
        under the bounds, else 'rewrite'."""
        if mode not in ("rewrite", "dv", "auto"):
            raise ValueError(f"mode must be 'rewrite', 'dv' or 'auto', got {mode!r}")
        meta = self._load_meta(name)
        names = meta.schema.fieldNames()
        sets = {}
        for c, v in assignments.items():
            if c not in names:
                raise ValueError(f"unknown column {c!r} in update_where assignments")
            sets[c] = F.expr(v) if isinstance(v, str) else v
        if not sets:
            raise ValueError("update_where needs at least one assignment")
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        pred = F.coalesce(pred, F.lit(False))

        def transformed(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    (sets[c] if c in sets else _col(c)).cast(
                        meta.schema[c].dataType
                    ).alias(c)
                    for c in names
                ]
            )

        if meta.primary_keys:
            bad = set(sets) & set(meta.primary_keys)
            if bad:
                raise ValueError(
                    f"update_where on {name!r} assigns primary-key columns "
                    f"{sorted(bad)} — that is a delete+insert (the old "
                    "key's row would survive an upsert); use "
                    "delete_where + insert."
                )
            matched = self._read_logical(name, meta).filter(pred)
            moving_pk = set(sets) & set(meta.partition_keys)
            if moving_pk:
                # a partition-key assignment on a PK table MOVES rows out
                # of their committed partition: the upsert route would
                # land the new copy in the target partition while the
                # stale copy stays in the source's BASE — a partition
                # whose pointer a pruned optimize() never reads, so the
                # duplicate PK survives forever once the deltas are
                # absorbed (r11 verdict task #6 — the suspicion was
                # right). Fix: checkpoint the matched set once (the
                # source rels and the written rows must come from ONE
                # evaluation), enumerate its CURRENT partitions, and
                # append the transformed copies with those source rels
                # marked dirty IN THE SAME COMMIT — the optimize() that
                # absorbs the delta then keep-latests across source AND
                # target together.
                matched = matched.localCheckpoint(eager=True)
                src_rels = sorted(self._rels_of(matched, meta.partition_keys))
                if not src_rels:
                    return  # nothing matched
                self.insert(
                    name,
                    transformed(matched),
                    mode="append",
                    extra_dirty_rels=src_rels,
                )
                self.optimize(name)
                return
            self.upsert(name, transformed(matched))
            return

        before = self._snapshot_meta(meta)
        if mode in ("dv", "auto") and self._write_vectors(
            name, meta, before, pred, mode, "update_where", transformed
        ):
            return
        if mode == "auto":  # over the bounds: fall through to the rewrite
            meta = self._load_meta(name)
            before = self._snapshot_meta(meta)
        # rewrite path: delete_where's partition economics, keeping the
        # matched rows transformed instead of dropping them
        sub = self._read_raw(name, meta)
        scope = None
        moving = bool(set(sets) & set(meta.partition_keys))
        if meta.partition_keys:
            pks = meta.partition_keys
            # a partition-key assignment MOVES rows: the target
            # partitions must be read into the rewrite too, or the
            # repoint would replace their bases with a leaf holding
            # only the moved rows — silent loss of every pre-existing
            # target row (review find; the DV path never had this
            # hazard, its originals stay in place). Source and target
            # keys come out of ONE scan (a struct pair per row), so
            # they are a consistent per-row snapshot.
            cols = [F.struct(*[_col(k).cast("string").alias(k) for k in pks]).alias("s")]
            if moving:
                cols.append(
                    F.struct(
                        *[
                            (sets[k] if k in sets else _col(k))
                            .cast(meta.schema[k].dataType)
                            .cast("string")
                            .alias(k)
                            for k in pks
                        ]
                    ).alias("t")
                )
            pairs = sub.filter(pred).select(*cols).distinct().collect()
            scope = {_hive_rel(pks, tuple(r["s"][k] for k in pks)) for r in pairs}
            if moving:
                scope |= {_hive_rel(pks, tuple(r["t"][k] for k in pks)) for r in pairs}
            scope |= set(meta.dirty_partitions)
            if not scope:
                return
            sub = sub.filter(self._rel_filter(meta, sorted(scope)))
        # ONE scan with the match bit computed once per row (r12 advice
        # fix): deriving keep/transform from two independent filter(pred)
        # evaluations let a nondeterministic predicate drop or duplicate
        # rows WITHIN a partition — invisible to the stray-partition
        # guard, which only sees cross-partition divergence. Catalyst
        # does not collapse a nondeterministic projection into its
        # consumers, so ``__uw_m`` is evaluated exactly once per row.
        marked = sub.withColumn("__uw_m", pred)
        out = marked.select(
            *[
                F.when(
                    F.col("__uw_m"),
                    (sets[c] if c in sets else _col(c)).cast(
                        meta.schema[c].dataType
                    ),
                )
                .otherwise(_col(c))
                .alias(c)
                for c in names
            ]
        )
        seq = self._reserve_seq(name, meta)
        token = self._write_seq(name, meta, out, seq)
        rels, zone = self._spark_written(name, meta, seq, token)
        self._commit_replace(
            name, meta, before, seq, token, rels, zone, scope, "update_where"
        )
