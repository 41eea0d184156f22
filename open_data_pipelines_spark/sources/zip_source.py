"""Landing-zone ZIP handling (S1/S4/S8/S10).

The reference streams remote ZIPs member-by-member in bounded memory
(``stream_unzip`` over 1 MiB HTTP chunks —
``src/data_processors/street_manager.py:202-265``,
``bduk_premises.py:95-224``, whole-zip download+extract variants
``os_usrn_uprn.py:68-219``). Spark reads ``.csv.gz`` natively but not
``.zip``, so there are two engine paths:

- **driver-side landing** (:func:`extract_zip` et al.): one remote zip
  is streamed to a landing dir and extracted; executors then parse the
  members with ``spark.read``. Right when there is ONE zip per run
  (the reference's monthly-drop shape) of arbitrary size — extraction
  is streamed, never buffered whole.
- **executor-side decompression** (:func:`zip_lines_distributed`,
  :func:`read_zip_csv_distributed`): a *fleet* of zips on (object)
  storage is scanned with ``binaryFile`` and decompressed inside an
  Arrow-batched ``mapInPandas`` — no driver involvement, parallelism =
  number of zips. This is the 100 TB backfill shape (e.g. re-ingesting
  60 monthly Street Manager drops at once). Each task holds one whole
  zip in memory (``binaryFile`` semantics) — bound zip size by
  ``spark.sql.files.maxPartitionBytes``-style policy at the source,
  and fall back to the landing path for single multi-GB archives.

Member extraction is streamed (``shutil.copyfileobj`` in 1 MiB chunks,
mirroring the reference's chunk size) — no whole-member buffering.
Network fetch is injectable (``opener=``) so tests run offline on
``file://`` URLs and production can pass a requests-backed opener with
retry/backoff (the reference's 3-attempt 3·2ⁿs policy, K3).
"""

from __future__ import annotations

import fnmatch
import shutil
import urllib.request
import zipfile
from collections.abc import Callable
from pathlib import Path

CHUNK = 1024 * 1024  # 1 MiB — reference's streaming chunk size


def download_to_landing(
    url: str,
    landing_dir: str,
    opener: Callable = urllib.request.urlopen,
) -> str:
    """Stream a remote file to the landing dir in 1 MiB chunks."""
    dest = Path(landing_dir)
    dest.mkdir(parents=True, exist_ok=True)
    out = dest / url.rstrip("/").split("/")[-1]
    with opener(url) as resp, open(out, "wb") as fh:
        shutil.copyfileobj(resp, fh, CHUNK)
    return str(out)


def extract_zip(
    zip_path: str,
    landing_dir: str,
    member_glob: str = "*",
) -> list[str]:
    """Extract matching members, streamed per member, flat into
    ``landing_dir``. Returns paths.

    ``member_glob`` picks members the way the reference picks ``.csv``
    inside BDUK zips or ``Data/*.csv`` inside ONS zips.
    """
    dest = Path(landing_dir)
    dest.mkdir(parents=True, exist_ok=True)
    out_paths: list[str] = []
    seen: set[str] = set()
    with zipfile.ZipFile(zip_path) as zf:
        for info in zf.infolist():
            if info.is_dir() or not fnmatch.fnmatch(info.filename, member_glob):
                continue
            name = Path(info.filename).name
            if str(dest / name) in seen:
                # basename collision across ZIP dirs: disambiguate
                # instead of silently overwriting the first member;
                # loop until genuinely unused (a flattened full
                # path can itself collide)
                base = info.filename.replace("/", "_")
                name, i = base, 1
                while str(dest / name) in seen:
                    name = f"{i}_{base}"
                    i += 1
            target = dest / name
            with zf.open(info) as src, open(target, "wb") as dst:
                shutil.copyfileobj(src, dst, CHUNK)
            seen.add(str(target))
            out_paths.append(str(target))
    return sorted(out_paths)


def fetch_and_extract(
    url: str,
    landing_dir: str,
    member_glob: str = "*",
    opener: Callable = urllib.request.urlopen,
) -> list[str]:
    """download + extract in one step (the common S1/S4/S10 shape)."""
    zpath = download_to_landing(url, landing_dir, opener=opener)
    return extract_zip(zpath, landing_dir, member_glob)


# --- executor-side decompression (scale path) --------------------------------

def zip_lines_distributed(
    spark,
    path_glob: str,
    member_glob: str = "*",
    encoding: str = "utf-8",
):
    """(zip_path, member, line) for every text line inside every
    matching member of every zip under ``path_glob`` — decompressed on
    EXECUTORS via ``binaryFile`` + Arrow ``mapInPandas``.

    Python only splits bytes into lines; all parsing stays JVM-side:
    feed ``line`` to ``F.from_json`` (declared schema) or ``F.from_csv``
    downstream. BOM is stripped from each member's first line (P9).
    """
    import pandas as pd

    out_schema = "zip_path string, member string, line string"

    def explode_zip(batches):
        import io

        for pdf in batches:
            rows: dict[str, list] = {"zip_path": [], "member": [], "line": []}
            for zp, content in zip(pdf["path"], pdf["content"]):
                with zipfile.ZipFile(io.BytesIO(content)) as zf:
                    for info in zf.infolist():
                        if info.is_dir() or not fnmatch.fnmatch(
                            info.filename, member_glob
                        ):
                            continue
                        text = zf.read(info).decode(encoding, "replace")
                        if text.startswith("\ufeff"):
                            text = text[1:]
                        for line in text.splitlines():
                            if line:
                                rows["zip_path"].append(zp)
                                rows["member"].append(info.filename)
                                rows["line"].append(line)
            yield pd.DataFrame(rows)

    binaries = spark.read.format("binaryFile").load(path_glob)
    return binaries.select("path", "content").mapInPandas(explode_zip, out_schema)


def read_zip_csv_distributed(
    spark,
    path_glob: str,
    member_glob: str = "*.csv",
    encoding: str = "utf-8",
    columns: list[str] | None = None,
):
    """All-string bronze frame from CSV members across a fleet of zips,
    decompressed + parsed executor-side (S3/S4 bronze contract: every
    column string; members must share one header). One zip per task.

    Declare ``columns`` in production (the bronze contract prefers
    declared schemas — zero driver reads). When omitted, the header is
    sniffed from the lexicographically-first zip: an executor reads
    that one archive and the driver receives only its bytes (bounded
    by one archive, never the fleet).
    """
    import io

    import pandas as pd

    if columns is None:
        first = (
            spark.read.format("binaryFile")
            .load(path_glob)
            .orderBy("path")
            .select("content")
            .head()
        )
        with zipfile.ZipFile(io.BytesIO(first["content"])) as zf:
            member = next(
                i.filename
                for i in zf.infolist()
                if not i.is_dir() and fnmatch.fnmatch(i.filename, member_glob)
            )
            with zf.open(member) as m:
                header_line = (
                    m.readline().decode(encoding, "replace").lstrip("\ufeff").rstrip("\r\n")
                )
        columns = [c.strip() for c in header_line.split(",")]
    out_schema = ", ".join(f"`{c}` string" for c in columns)

    def parse_members(batches):
        for pdf in batches:
            for _zp, content in zip(pdf["path"], pdf["content"]):
                with zipfile.ZipFile(io.BytesIO(content)) as zf:
                    for info in zf.infolist():
                        if info.is_dir() or not fnmatch.fnmatch(
                            info.filename, member_glob
                        ):
                            continue
                        with zf.open(info) as m:
                            part = pd.read_csv(
                                m, dtype=str, keep_default_na=False, encoding=encoding
                            )
                        part.columns = [c.strip().lstrip("\ufeff") for c in part.columns]
                        yield part[columns]

    binaries = spark.read.format("binaryFile").load(path_glob)
    return binaries.select("path", "content").mapInPandas(parse_members, out_schema)
