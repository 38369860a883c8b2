"""Canonical content hashing for suites, manifests and snapshots.

The recipe — ``sha256(json.dumps(obj, sort_keys=True, separators=(",", ":")))``
— reproduces the reference's schema-hash normalization
(ref: transcription/schema/registry.py:104-113) so rule hashes are stable
across Python versions and dict orderings.
"""

from __future__ import annotations

import hashlib
import json
from typing import Any


def canonical_json(obj: Any) -> str:
    return json.dumps(obj, sort_keys=True, separators=(",", ":"), ensure_ascii=True)


def canonical_hash(obj: Any) -> str:
    """Full sha256 hex digest of the canonical JSON form of ``obj``."""
    return hashlib.sha256(canonical_json(obj).encode("utf-8")).hexdigest()


# Keys that mark the spec's on-disk FORMAT, not its semantics. They are
# excluded from spec hashes so bumping the serialization format (e.g. the
# spec_format=2 marker added for migrate.detect_version) does NOT change
# suite_hash — which would force a one-time full re-validation of every
# checkpointed partition and break lockfile hash-matches for unchanged
# suites.
_FORMAT_MARKER_KEYS = frozenset({"spec_format"})


def spec_hash(spec: dict[str, Any]) -> str:
    """Canonical hash of a suite/rule spec, ignoring format-marker keys."""
    return canonical_hash({k: v for k, v in spec.items() if k not in _FORMAT_MARKER_KEYS})
