"""Named-suite registry + lockfile — the reference's front door.

Mirrors the reference's schema registry and integrity machinery:

  * named, versioned specs with a canonical content hash
    (ref: transcription/schema/registry.py:62-306 — KNOWN_SCHEMAS,
    get_schema(name, version), latest-version resolution)
  * a LOCKFILE mapping name@version → spec hash; ``verify`` recomputes the
    hash from the stored spec and raises on mismatch in strict mode
    (ref: transcription/schema/integrity.py:156-428 — verify_integrity,
    strict raise, has_changed)
  * ``diff`` between suite versions (added/removed/changed rules).

Layout (plain files — registry state is tiny driver-side metadata; an
Iceberg/DB table is a drop-in swap)::

    <root>/<name>/v<version>.json   canonical sort-keys spec
    <root>/lock.json                {name: {version: {hash, path, updated_at}}}

Suites rebuilt from a spec cover every metadata-only rule (schema atoms,
expr/conditional, nested, type_check, unique, drift-with-baseline).
ForeignKey/HashInvariant carry live reference TABLES — those suites can be
saved and verified, but ``load`` cannot rebuild them: a spec with a
``foreign_key`` or ``hash_invariant`` rule raises ``SuiteVersionError`` in
``migrate.suite_from_spec``.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from typing import Any

from slower_whisper_spark.functions.hashing import canonical_hash, spec_hash
from slower_whisper_spark.suite import ConstraintSuite


class IntegrityError(RuntimeError):
    """Lockfile hash mismatch (strict verify), like the reference's
    integrity failure (ref: transcription/schema/integrity.py:222-335)."""


class SuiteRegistry:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._lock_path = os.path.join(root, "lock.json")

    # ---------------- lockfile ---------------- #
    def _read_lock(self) -> dict[str, Any]:
        if not os.path.exists(self._lock_path):
            return {}
        with open(self._lock_path) as f:
            return json.load(f)

    def _write_lock(self, lock: dict[str, Any]) -> None:
        tmp = self._lock_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(lock, f, indent=2, sort_keys=True)
        os.replace(tmp, self._lock_path)

    # ---------------- save / load ---------------- #
    def _spec_path(self, name: str, version: int) -> str:
        return os.path.join(self.root, name, f"v{version}.json")

    def save(self, suite: ConstraintSuite, overwrite: bool = False) -> str:
        """Persist the suite's spec and lock its hash. Saving a DIFFERENT
        spec under an existing (name, version) requires overwrite=True —
        published versions are immutable by default."""
        spec = suite.spec()
        h = spec_hash(spec)
        lock = self._read_lock()
        existing = lock.get(suite.name, {}).get(str(suite.version))
        if existing and existing["hash"] != h and not overwrite:
            # legacy-lock migration: entries published before spec_hash
            # (which excludes the spec_format marker) hold canonical_hash
            # values. The same semantic content must not read as a new spec
            # — match the legacy hash and lazily rewrite the entry below.
            if existing["hash"] != canonical_hash(spec):
                raise IntegrityError(
                    f"{suite.name}@v{suite.version} already locked with a different "
                    f"hash ({existing['hash'][:12]} != {h[:12]}); bump the version "
                    "or pass overwrite=True"
                )
        path = self._spec_path(suite.name, suite.version)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(spec, f, indent=2, sort_keys=True)
        os.replace(tmp, path)
        lock.setdefault(suite.name, {})[str(suite.version)] = {
            "hash": h,
            "path": os.path.relpath(path, self.root),
            "updated_at": datetime.now(timezone.utc).isoformat(),
        }
        self._write_lock(lock)
        return path

    def versions(self, name: str) -> list[int]:
        return sorted(int(v) for v in self._read_lock().get(name, {}))

    def names(self) -> list[str]:
        return sorted(self._read_lock())

    def _resolve(self, name: str, version: int | None) -> int:
        vs = self.versions(name)
        if not vs:
            raise KeyError(f"no suite named {name!r} in registry {self.root}")
        if version is None:
            return vs[-1]
        if version not in vs:
            raise KeyError(f"{name}@v{version} not in registry (have {vs})")
        return version

    def load_spec(self, name: str, version: int | None = None, strict: bool = True) -> dict[str, Any]:
        version = self._resolve(name, version)
        self.verify(name, version, strict=strict)
        with open(self._spec_path(name, version)) as f:
            return json.load(f)

    def load(self, name: str, version: int | None = None, strict: bool = True) -> ConstraintSuite:
        """Rebuild the live suite from its locked spec (strict-verified)."""
        from slower_whisper_spark.migrate import suite_from_spec

        return suite_from_spec(self.load_spec(name, version, strict=strict))

    # ---------------- integrity ---------------- #
    def verify(self, name: str, version: int | None = None, strict: bool = True) -> bool:
        """Recompute the stored spec's canonical hash and compare with the
        lockfile. strict ⇒ raise IntegrityError on mismatch/missing."""
        version = self._resolve(name, version)
        entry = self._read_lock()[name][str(version)]
        path = self._spec_path(name, version)
        if not os.path.exists(path):
            if strict:
                raise IntegrityError(f"{name}@v{version}: spec file missing ({path})")
            return False
        with open(path) as f:
            stored = json.load(f)
        actual = spec_hash(stored)
        ok = actual == entry["hash"]
        if not ok and entry["hash"] == canonical_hash(stored):
            # one-time lazy migration: the lock predates spec_hash (it holds
            # the legacy canonical_hash that included spec_format). Same
            # semantic content ⇒ rewrite the entry in place so 'format bumps
            # never invalidate lockfiles' holds across the hashing change.
            lock = self._read_lock()
            lock[name][str(version)]["hash"] = actual
            self._write_lock(lock)
            ok = True
        if not ok and strict:
            raise IntegrityError(
                f"{name}@v{version}: spec hash {actual[:12]} != locked {entry['hash'][:12]}"
            )
        return ok

    def has_changed(self, suite: ConstraintSuite) -> bool:
        """True iff the live suite's spec differs from what the registry has
        locked under (name, version) — or is not registered at all
        (ref registry.has_changed semantics)."""
        entry = self._read_lock().get(suite.name, {}).get(str(suite.version))
        if entry is None:
            return True
        spec = suite.spec()
        if spec_hash(spec) == entry["hash"]:
            return False
        # legacy lock (pre-spec_hash): same content under the old hashing
        # is not a change (read-only here; verify()/save() do the rewrite)
        return canonical_hash(spec) != entry["hash"]

    # ---------------- diff ---------------- #
    def diff(self, name: str, v_old: int, v_new: int) -> dict[str, list[str]]:
        """Rule-level diff between two locked versions: added / removed /
        changed rule_ids."""
        old = {r["rule_id"]: r for r in self.load_spec(name, v_old)["rules"]}
        new = {r["rule_id"]: r for r in self.load_spec(name, v_new)["rules"]}
        return {
            "added": sorted(set(new) - set(old)),
            "removed": sorted(set(old) - set(new)),
            "changed": sorted(
                rid for rid in set(old) & set(new)
                if canonical_hash(old[rid]) != canonical_hash(new[rid])
            ),
        }
