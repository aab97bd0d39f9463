"""Reusable scalar expressions — each maps one reference micro-operator
(SURVEY.md §2.2) to a single Catalyst expression. All JVM-side; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: P7 — strip "-json-YYYYMMDD-HH:MM:SS" stamps from landing filenames
#: (re.findall + str.replace, Load-gcs-to-bq/main.py:38-47).
_FILENAME_STAMP = r"-json-\d{8}-\d{2}:\d{2}:\d{2}"


def filename_cleanup(name: Column) -> Column:
    return F.regexp_replace(name, _FILENAME_STAMP, "")


def path_stem(path: Column) -> Column:
    """P8 — Path(name).stem (Load-gcs-to-bq/main.py:66): final component,
    extension dropped."""
    return F.regexp_extract(path, r"([^/]+?)(\.[^./]*)?$", 1)


def runtime_stamp(ts: Column) -> Column:
    """P5 — "%Y%m%d-%H:%M:%S" runtime stamp (Load-Data-From-API/main.py:16)."""
    return F.date_format(ts, "yyyyMMdd-HH:mm:ss")


def decode_pubsub_payload(data: Column) -> Column:
    """P10 — base64-decoded message body (main.py:166)."""
    return F.unbase64(data).cast("string")


def stable_uuid(*cols: Column) -> Column:
    """P12 — the reference uses uuid4() for log-file uniqueness
    (Load-logs/main.py:27); a content-derived UUID keeps runs reproducible
    (md5 is 128-bit, same width as UUID)."""
    h = F.md5(F.concat_ws("", *cols))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
