"""S9: driver-side fetch layer — download sources to the landing zone.

Parity surface: the reference's retrieval helpers
(orion/utils.py:47-303) — HTTP pulls with skip-if-present semantics,
mtime-derived source-version strings (orion/utils.py:184-195
``get_http_file_modified_date``), gz/tar/zip staging, and line-splitting
of non-splittable archive members. The reference's FTP pulls
(orion/utils.py:86-181) have no caller here and are not carried.

Design notes (Spark-first, not a translation):

- Fetching is DRIVER-SIDE by contract (SURVEY §2 S9): at 100 TB the
  downloads land on shared storage once per source version; executors only
  ever read the landed files. Nothing here touches a SparkSession.
- Downloads are ATOMIC (``.part`` + ``os.replace``) and IDEMPOTENT (an
  existing non-empty target short-circuits), so a crashed fetch never
  leaves a half-file where the content-addressed pipeline would trust it.
- Derived files (archive members, a parser's cleaned copy of a source)
  are staged by ONE function, ``stage_file``: atomic the same way, and
  staged again whenever the source's mtime changes. A parser given no
  staging directory uses ``default_staging_dir(source)``, the same directory on
  every call, so an unchanged source is staged once.
- ``split_text_member`` exists because gzip is not a splittable codec: a
  50 GB ``.gz`` source is ONE Spark input partition. Splitting at fetch
  time re-enables scan parallelism for such sources; splittable formats
  (plain text, bzip2, parquet) should be landed unsplit and left to
  Spark's own partitioning.
- ``file://`` URLs work throughout (urllib handles them natively), which
  is also how the tests drive the layer hermetically.
"""

from __future__ import annotations

import contextlib
import gzip
import hashlib
import os
import shutil
import tarfile
import tempfile
import threading
import zipfile
from datetime import datetime, timezone
from email.utils import parsedate_to_datetime
from urllib import request
from urllib.parse import urlparse

_BLOCK = 128 * 1024
# a few public sources refuse the default urllib agent; the reference ships
# a browser-ish header for the same reason (orion/utils.py:224)
_HEADERS = {"User-Agent": "Mozilla/5.0 (X11; Linux x86_64)"}


class FetchError(RuntimeError):
    """Retrieval failure (reference: GetDataPullError, orion/utils.py:31)."""


def _version_string(dt: datetime, exclude_day: bool = False) -> str:
    """The reference's date-derived source-version format: ``M_D_YYYY``
    (or ``M_YYYY`` with exclude_day), no zero padding
    (orion/utils.py:112-117, 193)."""
    if exclude_day:
        return f"{dt.month}_{dt.year}"
    return f"{dt.month}_{dt.day}_{dt.year}"


def http_modified_version(url: str, exclude_day: bool = False) -> str:
    """Source version from the URL's Last-Modified (orion/utils.py:184-195).

    ``file://`` URLs use the file's mtime so local fixtures version the
    same way as live sources.
    """
    try:
        parsed = urlparse(url)
        if parsed.scheme == "file":
            mtime = os.path.getmtime(request.url2pathname(parsed.path))
            dt = datetime.fromtimestamp(mtime, tz=timezone.utc)
        else:
            req = request.Request(url, headers=_HEADERS, method="HEAD")
            with request.urlopen(req, timeout=60) as resp:
                dt = parsedate_to_datetime(resp.headers["Last-Modified"])
        return _version_string(dt, exclude_day)
    except Exception as exc:
        raise FetchError(f"modified-date probe failed for {url}: {exc}") from exc


def _land(url: str, data_dir: str, saved_file_name: str | None,
          open_url, what: str) -> tuple[str, int]:
    """The one landing write of both HTTP pulls: an existing non-empty
    target is kept (0 bytes transferred); otherwise the response of
    ``open_url()`` streams into ``<target>.part``, which ``os.replace``
    publishes only on success and which is removed on any failure.
    A FetchError raised by ``open_url`` passes through; any other error
    becomes ``FetchError("<what> failed ...")``. Returns (path, bytes)."""
    name = saved_file_name or url.rstrip("/").rsplit("/", 1)[-1]
    os.makedirs(data_dir, exist_ok=True)
    target = os.path.join(data_dir, name)
    if os.path.exists(target) and os.path.getsize(target) > 0:
        return target, 0
    part = target + ".part"
    n = 0
    try:
        with open_url() as resp, open(part, "wb") as out:
            while True:
                buf = resp.read(_BLOCK)
                if not buf:
                    break
                out.write(buf)
                n += len(buf)
        os.replace(part, target)
    except Exception as exc:
        if os.path.exists(part):
            os.remove(part)
        if isinstance(exc, FetchError):
            raise
        raise FetchError(f"{what} failed for {url}: {exc}") from exc
    return target, n


def fetch_http(
    url: str, data_dir: str, saved_file_name: str | None = None
) -> tuple[str, int]:
    """Stream a URL into the landing zone (orion/utils.py:197-257).

    Idempotent: an existing non-empty target is kept (returns 0 bytes
    transferred). Atomic: data lands in ``<target>.part`` and is renamed
    only on success. Returns (path, bytes_transferred).
    """
    def open_url():
        return request.urlopen(request.Request(url, headers=_HEADERS), timeout=300)

    return _land(url, data_dir, saved_file_name, open_url, "download")


def fetch_http_session_gate(
    url: str,
    data_dir: str,
    gate_url: str,
    gate_params: dict | None = None,
    expected_content_type: str | None = None,
    saved_file_name: str | None = None,
) -> tuple[str, int]:
    """Gated HTTP pull (orion/utils.py:260-301 ``pull_via_http_session_gate``):
    some source sites set session cookies from a JSP/download gate page
    before allowing direct file access. Visit ``gate_url`` first (with
    optional query params), carry the cookies it sets into the streamed
    download, and land the file under the same atomic (``.part`` +
    ``os.replace``) + idempotent (existing non-empty target short-circuits)
    contract as :func:`fetch_http`. ``expected_content_type`` rejects a
    gate-failure HTML page masquerading as the file. Returns
    (path, bytes_transferred)."""
    import http.cookiejar
    from urllib.parse import urlencode

    opener = request.build_opener(
        request.HTTPCookieProcessor(http.cookiejar.CookieJar()))
    gate = gate_url + ("?" + urlencode(gate_params) if gate_params else "")

    def open_url():
        with opener.open(request.Request(gate, headers=_HEADERS), timeout=60):
            pass  # the visit only exists to collect session cookies
        resp = opener.open(request.Request(url, headers=_HEADERS), timeout=300)
        ctype = resp.headers.get("Content-Type")
        if expected_content_type and ctype != expected_content_type:
            resp.close()
            raise FetchError(
                f"unexpected content type {ctype!r} retrieving {url} "
                f"(expected {expected_content_type!r})"
            )
        return resp

    return _land(url, data_dir, saved_file_name, open_url, "gated download")


def _safe_join(out_dir: str, member: str) -> str:
    """Refuse path traversal out of the extraction dir."""
    dest = os.path.realpath(os.path.join(out_dir, member))
    root = os.path.realpath(out_dir)
    if not (dest == root or dest.startswith(root + os.sep)):
        raise FetchError(f"archive member escapes extraction dir: {member}")
    return dest


def default_staging_dir(source: str) -> str:
    """The directory that files derived from ``source`` are staged into
    when the caller names none: one per source path (a digest of its
    absolute path) under the temp directory. A rerun on the same source
    finds its staged copies and their markers there, so ``stage_file``
    skips the copy."""
    source = os.path.abspath(source)
    digest = hashlib.sha1(source.encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), "orion_staging",
                        f"{os.path.basename(source)}-{digest}")


def stage_file(source: str, dest: str, write) -> str:
    """Stage a file derived from ``source`` at ``dest``: ``write(fh)`` fills
    a temp file next to ``dest`` that only this writer (process and
    thread) uses, and an atomic ``os.replace`` publishes it, so two
    writers staging the same source never interleave their bytes. A
    hidden marker next to ``dest`` records ``source``'s mtime; the write
    is skipped while it matches, so a re-landed source, or a ``dest`` a
    crash cut short (no marker), is staged again. Returns ``dest``."""
    folder, name = os.path.split(dest)
    marker = os.path.join(folder, f".{name}.staged")
    stamp = str(os.path.getmtime(source))
    if os.path.exists(dest) and os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == stamp:
                return dest
    os.makedirs(folder, exist_ok=True)
    tmp = f"{dest}.{os.getpid()}.{threading.get_ident()}.tmp"
    try:
        with open(tmp, "wb") as fh:
            write(fh)
        os.replace(tmp, dest)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    with open(marker, "w") as fh:
        fh.write(stamp)
    return dest


def _copy_member(open_member, info):
    def write(fh):
        with open_member(info) as src:
            shutil.copyfileobj(src, fh, _BLOCK)
    return write


def extract_archive(
    archive_path: str, out_dir: str, members: list[str] | None = None
) -> list[str]:
    """Stage archive contents into ``out_dir``: .zip, .tar[.gz|.bz2], and
    single-member .gz (the staging half of orion/utils.py:305-353 that
    parsers otherwise each reimplement). Returns the staged paths; each
    member goes through :func:`stage_file`, and a requested member the
    archive lacks raises FetchError."""
    lower = archive_path.lower()
    with contextlib.ExitStack() as stack:
        if lower.endswith(".zip"):
            zf = stack.enter_context(zipfile.ZipFile(archive_path))
            infos = {i.filename: i for i in zf.infolist() if not i.is_dir()}
            open_member = zf.open
        elif lower.endswith((".tar", ".tar.gz", ".tgz", ".tar.bz2")):
            tf = stack.enter_context(tarfile.open(archive_path))
            infos = {i.name: i for i in tf.getmembers() if i.isfile()}
            open_member = tf.extractfile
        elif lower.endswith(".gz"):
            name = members[0] if members else os.path.basename(archive_path)[:-3]
            infos, open_member = {name: archive_path}, gzip.open
        else:
            raise FetchError(f"unsupported archive format: {archive_path}")
        missing = sorted(set(members or ()) - set(infos))
        if missing:
            raise FetchError(f"{archive_path} has no member(s) {missing}")
        return [
            stage_file(
                archive_path, _safe_join(out_dir, name),
                _copy_member(open_member, infos[name]),
            )
            for name in members or infos
        ]


def split_text_member(
    path: str, out_dir: str, lines_per_file: int = 500_000
) -> list[str]:
    """Split a landed text file into numbered chunks
    (orion/utils.py:355-433 splits inside-zip members; here the member is
    staged first via extract_archive, keeping one splitter for every
    archive kind). The point at scale: a non-splittable compressed source
    scans as ONE Spark partition; pre-split chunks restore parallelism.
    """
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.basename(path)
    out: list[str] = []
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as fh:
        chunk: list[str] = []
        idx = 1
        for line in fh:
            chunk.append(line)
            if len(chunk) >= lines_per_file:
                dest = os.path.join(out_dir, f"{base}.{idx}")
                with open(dest, "w", encoding="utf-8") as of:
                    of.writelines(chunk)
                out.append(dest)
                idx += 1
                chunk = []
        if chunk:
            dest = os.path.join(out_dir, f"{base}.{idx}")
            with open(dest, "w", encoding="utf-8") as of:
                of.writelines(chunk)
            out.append(dest)
    return out


def fetch_source(
    url: str,
    landing_root: str,
    source_id: str,
    saved_file_name: str | None = None,
    extract: bool = False,
    gate_url: str | None = None,
    gate_params: dict | None = None,
    expected_content_type: str | None = None,
) -> dict:
    """One-call landing-zone ingest: derive the mtime source version,
    download into ``<landing_root>/<source_id>/<version>/``, optionally
    stage archive members next to it. ``gate_url`` switches to the
    session-gated pull (cookie-setting gate visit first; see
    :func:`fetch_http_session_gate`). Returns a manifest dict — the shape
    the pipeline's SourceResolver producers consume."""
    version = http_modified_version(url)
    data_dir = os.path.join(landing_root, source_id, version)
    if gate_url:
        path, n = fetch_http_session_gate(
            url, data_dir, gate_url, gate_params=gate_params,
            expected_content_type=expected_content_type,
            saved_file_name=saved_file_name,
        )
    else:
        path, n = fetch_http(url, data_dir, saved_file_name)
    manifest = {
        "source_id": source_id,
        "source_version": version,
        "url": url,
        "path": path,
        "bytes": n,
    }
    if extract:
        manifest["extracted"] = extract_archive(
            path, os.path.join(data_dir, "extracted")
        )
    return manifest
