#!/usr/bin/env python
"""Census freshness gate (round-15 verdict item 2).

``CORRECTNESS_local_sf001.json`` is the committed 183-query oracle
census.  In round 15 a package commit landed 10 minutes AFTER the
census regen, so the committed artifact no longer proved the committed
tree — only a judge's fresh sweep showed the edit was harmless.  This
gate makes that drift mechanical: it FAILS when any watched source file
(`legalchatbot_vectordb_exp_spark/**/*.py`, ``__spark_entry__.py``) has
an mtime newer than the census artifact, i.e. when code changed after
the census was last regenerated.

Exit 0 = census at least as new as every watched source file.
Exit 1 = stale (lists offending files) or census missing.

Run ``make census`` (regenerates the artifact) to turn it green.
"""

from __future__ import annotations

import os
import sys

CENSUS = "CORRECTNESS_local_sf001.json"
WATCH = ("legalchatbot_vectordb_exp_spark", "__spark_entry__.py")
# filesystems and checkout tools quantize mtimes; a sub-second skew
# between files written by the same action must not trip the gate
SLACK_SEC = 1.0


def source_digest_map(repo: str = ".") -> dict[str, str]:
    """Per-file sha256 of every watched source file (relpath →
    hexdigest).  Recorded inside the census artifact at regen time so
    freshness is CONTENT-based — git does not preserve mtimes, so a
    fresh clone's checkout order must not decide the verdict."""
    import hashlib

    out: dict[str, str] = {}
    for watch in WATCH:
        path = os.path.join(repo, watch)
        paths = []
        if os.path.isfile(path):
            paths = [path]
        else:
            for root, dirs, files in os.walk(path):
                dirs[:] = [d for d in dirs if d != "__pycache__"]
                paths.extend(
                    os.path.join(root, f)
                    for f in files
                    if f.endswith(".py")
                )
        for fp in paths:
            with open(fp, "rb") as fh:
                out[os.path.relpath(fp, repo)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return out


def stale_files(repo: str = ".") -> list[str]:
    """Watched source files that changed since the census was
    regenerated.

    Content-based when the artifact carries a ``_source_digest`` map
    (per-file sha256 recorded at regen — immune to checkout order);
    falls back to the mtime comparison for older artifacts.  Returns
    ``["<census missing>"]`` when the artifact itself is absent (a
    tree with code but no census is by definition unproven).
    """
    census = os.path.join(repo, CENSUS)
    if not os.path.exists(census):
        return ["<census missing>"]
    try:
        import json

        with open(census) as fh:
            recorded = json.load(fh).get("_source_digest")
    except Exception:
        recorded = None
    if isinstance(recorded, dict) and recorded:
        current = source_digest_map(repo)
        changed = sorted(
            set(k for k, v in current.items() if recorded.get(k) != v)
            | (set(recorded) - set(current))
        )
        return changed
    cutoff = os.path.getmtime(census) + SLACK_SEC
    out: list[str] = []
    for watch in WATCH:
        path = os.path.join(repo, watch)
        if os.path.isfile(path):
            if os.path.getmtime(path) > cutoff:
                out.append(watch)
            continue
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in files:
                if not name.endswith(".py"):
                    continue
                fp = os.path.join(root, name)
                if os.path.getmtime(fp) > cutoff:
                    out.append(os.path.relpath(fp, repo))
    return sorted(out)


def main() -> int:
    stale = stale_files(os.path.dirname(os.path.abspath(__file__)) or ".")
    if not stale:
        print("census-fresh OK: no watched source newer than", CENSUS)
        return 0
    print(
        f"census STALE: {len(stale)} file(s) newer than {CENSUS} — "
        "run `make census` and commit the regenerated artifact:",
        file=sys.stderr,
    )
    for f in stale:
        print(f"  {f}", file=sys.stderr)
    return 1


if __name__ == "__main__":
    sys.exit(main())
