"""Scalar expression helpers (SURVEY.md §2.2-2.3)."""

from .scalar import (  # noqa: F401
    decode_pubsub_payload,
    filename_cleanup,
    path_stem,
    runtime_stamp,
    stable_uuid,
)
