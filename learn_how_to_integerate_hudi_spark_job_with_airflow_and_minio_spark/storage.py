"""Tiny filesystem abstraction for manifest/checkpoint I/O.

The engine's data files are read/written by Spark (any Hadoop-supported
scheme); the small JSON control plane (commit manifests, checkpoints) is
read/written driver-side through this layer. Local paths use ``os``;
``s3://``/``s3a://`` paths use boto3 when available (reference parity:
the ``AWSS3`` utility class, ``incremental_etl_orders.py:66-166`` — only
its load-bearing surface: put/get/exists/delete/list).
"""

from __future__ import annotations

import glob as _glob
import json
import os
from urllib.parse import urlparse


class LocalFS:
    def read_text(self, path: str) -> str:
        with open(path, encoding="utf-8") as f:
            return f.read()

    def write_text(self, path: str, data: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(data)
        # atomic publish: manifest-last commit protocol relies on this
        os.replace(tmp, path)

    def create_text(self, path: str, data: str) -> None:
        """Exclusive atomic create: raises ``FileExistsError`` if ``path``
        already exists. The fully-written temp file is ``os.link``ed onto
        the target, so the winner of a concurrent race is decided by the
        filesystem (link is atomic and fails on an existing target) — not
        by a check-then-write window."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}-{id(data):x}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(data)
        try:
            os.link(tmp, path)
        finally:
            os.remove(tmp)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def list(self, prefix: str) -> list[str]:
        """All file paths under a directory prefix (recursive)."""
        if not os.path.isdir(prefix):
            return []
        out = []
        for root, _dirs, files in os.walk(prefix):
            out.extend(os.path.join(root, f) for f in files)
        return sorted(out)

    def glob(self, pattern: str) -> list[str]:
        return sorted(_glob.glob(pattern))

    def mtime(self, path: str) -> float | None:
        """Last-modified epoch seconds, or None when unstat-able —
        age-guarded sweeps treat None as 'never delete'."""
        try:
            return os.path.getmtime(path)
        except OSError:
            return None

    def size(self, path: str) -> int | None:
        try:
            return os.path.getsize(path)
        except OSError:
            return None

    def status(self, path: str) -> tuple[int, int] | None:
        """(bytes, mtime in epoch ms) — the two fields a Hadoop
        ``FileStatus`` of a data file carries — or None when
        unstat-able. Milliseconds are floored from nanoseconds, as
        Hadoop's local file system reports them."""
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_size, st.st_mtime_ns // 1_000_000

    def delete(self, path: str) -> None:
        if os.path.exists(path):
            os.remove(path)

    def move(self, src: str, dst: str) -> None:
        """Rename a file or directory tree (index-payload migration)."""
        import shutil

        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(src, dst)

    def rmdir(self, path: str) -> None:
        """Remove a directory tree that is (believed) emptied of files.

        Bottom-up ``os.rmdir`` of EMPTY dirs only — a file that
        appeared concurrently makes its branch a silent no-op rather
        than data loss (``shutil.rmtree`` would take it)."""
        if not os.path.isdir(path):
            return
        for root, dirs, _files in os.walk(path, topdown=False):
            for d in dirs:
                try:
                    os.rmdir(os.path.join(root, d))
                except OSError:
                    pass
        try:
            os.rmdir(path)
        except OSError:
            pass


class S3FS:
    """boto3-backed control-plane I/O for s3:// and s3a:// paths.

    Mirrors the reference's AWSS3 helper surface
    (``incremental_etl_orders.py:66-166``): put_files → write_text,
    get_item → read_text, item_exists → exists, delete_object → delete,
    find_files_in_bucket → list.
    """

    def __init__(self, endpoint_url: str | None = None):
        import boto3  # gated: not baked into every image

        self.client = boto3.client("s3", endpoint_url=endpoint_url)

    @staticmethod
    def _split(path: str) -> tuple[str, str]:
        u = urlparse(path)
        return u.netloc, u.path.lstrip("/")

    def read_text(self, path: str) -> str:
        b, k = self._split(path)
        return self.client.get_object(Bucket=b, Key=k)["Body"].read().decode()

    def write_text(self, path: str, data: str) -> None:
        b, k = self._split(path)
        self.client.put_object(Bucket=b, Key=k, Body=data.encode())

    def create_text(self, path: str, data: str) -> None:
        """Exclusive create via S3 conditional put (``If-None-Match: *``,
        supported by AWS S3 and MinIO): raises ``FileExistsError`` if the
        key exists. Where the endpoint/SDK lacks conditional puts, falls
        back to head-then-put — best-effort only (a racing writer can
        slip through the check window; the caller documents this)."""
        b, k = self._split(path)
        try:
            self.client.put_object(
                Bucket=b, Key=k, Body=data.encode(), IfNoneMatch="*"
            )
            return
        except self.client.exceptions.ClientError as e:
            code = e.response.get("Error", {}).get("Code", "")
            if code in ("PreconditionFailed", "412"):
                raise FileExistsError(path) from e
            if code not in ("NotImplemented", "501"):
                raise
        except TypeError:
            pass  # botocore too old for IfNoneMatch → fallback below
        if self.exists(path):
            raise FileExistsError(path)
        self.write_text(path, data)

    def exists(self, path: str) -> bool:
        b, k = self._split(path)
        try:
            self.client.head_object(Bucket=b, Key=k)
            return True
        except Exception:
            return False

    def list(self, prefix: str) -> list[str]:
        b, k = self._split(prefix)
        out = []
        paginator = self.client.get_paginator("list_objects_v2")
        for page in paginator.paginate(Bucket=b, Prefix=k):
            for obj in page.get("Contents", []):
                out.append(f"s3a://{b}/{obj['Key']}")
        return sorted(out)

    def mtime(self, path: str) -> float | None:
        """LastModified epoch seconds via head_object, or None —
        age-guarded sweeps treat None as 'never delete'. This is what
        makes vacuum sweeps WORK on S3 (os.path.getmtime cannot stat an
        s3a:// path, so an os-level age guard would silently skip every
        object forever)."""
        b, k = self._split(path)
        try:
            return self.client.head_object(Bucket=b, Key=k)[
                "LastModified"
            ].timestamp()
        except Exception:
            return None

    def size(self, path: str) -> int | None:
        b, k = self._split(path)
        try:
            return self.client.head_object(Bucket=b, Key=k)[
                "ContentLength"
            ]
        except Exception:
            return None

    def status(self, path: str) -> tuple[int, int] | None:
        """(bytes, LastModified in epoch ms) from one head_object, or
        None."""
        b, k = self._split(path)
        try:
            head = self.client.head_object(Bucket=b, Key=k)
        except Exception:
            return None
        return head["ContentLength"], int(head["LastModified"].timestamp() * 1000)

    def delete(self, path: str) -> None:
        b, k = self._split(path)
        self.client.delete_object(Bucket=b, Key=k)

    def rmdir(self, path: str) -> None:
        """No-op: S3 prefixes don't exist apart from their objects."""

    def move(self, src: str, dst: str) -> None:
        """Server-side copy + delete, object by object (no native S3
        rename). A single object moves as itself; otherwise ``src`` is
        treated as a DIRECTORY and listed with a trailing '/' so that
        sibling keys sharing the raw prefix (``secondary_tag_meta.json``
        or a second index ``secondary_tagx/`` next to
        ``secondary_tag/``) are never swept along. Nothing to move is a
        no-op, never a NoSuchKey copy."""
        src = src.rstrip("/")
        dst = dst.rstrip("/")
        if self.exists(src):
            pairs = [(src, dst)]
        else:
            pairs = [
                (o, dst + o[len(src):]) for o in self.list(src + "/")
            ]
        for s, d in pairs:
            b1, k1 = self._split(s)
            b2, k2 = self._split(d)
            self.client.copy_object(
                Bucket=b2, Key=k2, CopySource={"Bucket": b1, "Key": k1}
            )
            self.client.delete_object(Bucket=b1, Key=k1)


def fs_for(path: str):
    if path.startswith(("s3://", "s3a://")):
        return S3FS()
    return LocalFS()


def read_json(path: str):
    raw = fs_for(path).read_text(path)
    val = json.loads(raw)
    if isinstance(val, str):
        # Compat shim for the reference's double-encoded checkpoints
        # (json.dumps of an already-dumped string,
        # incremental_etl_orders.py:197-201) — SURVEY §2.6.
        val = json.loads(val)
    return val


def write_json(path: str, obj) -> None:
    fs_for(path).write_text(path, json.dumps(obj, indent=2, sort_keys=True))


def create_json(path: str, obj) -> None:
    """Exclusive atomic create — raises ``FileExistsError`` if ``path``
    exists. The commit-manifest publish uses this so exactly one of two
    racing writers can ever own a commit id."""
    fs_for(path).create_text(path, json.dumps(obj, indent=2, sort_keys=True))
