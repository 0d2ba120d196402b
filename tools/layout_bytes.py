#!/usr/bin/env python3
"""Bytes and file counts of the published version of a persisted fold state.

    python3 tools/layout_bytes.py <stateDir>

Reads ``<stateDir>/_CURRENT`` and that version's ``_MANIFEST`` and walks the
same files SyncBench's ``disk_bytes_per_wire_byte`` counts: the version
directory ``v<N>/`` and every segment directory the manifest lists. Prints
one JSON line with the totals, the split by kind and the split by group.

Kinds:
  parquet_data    Parquet bytes before the footer (magic + column chunks)
  parquet_footer  the footer: its length from the file's trailing 8 bytes
                  (4-byte little-endian length, then ``PAR1``) plus those 8
  crc             Hadoop ``.crc`` checksum side files
  success         ``_SUCCESS`` markers
  manifest        ``_MANIFEST``
  other           anything else

Groups: a segment family (``chain``, ``candles``, ``waves_data``) or a
version-directory file (``dimensions``); the manifest (with its ``fp``
fingerprint lines) and its checksum file form the group ``manifest``.

Standard library only.
"""
import json
import os
import struct
import sys

KINDS = ("parquet_data", "parquet_footer", "crc", "success", "manifest", "other")


def footer_len(path):
    size = os.path.getsize(path)
    if size < 12:
        return 0
    with open(path, "rb") as f:
        f.seek(size - 8)
        tail = f.read(8)
    if tail[4:] != b"PAR1":
        raise ValueError(f"{path}: not a Parquet file (no trailing PAR1)")
    return struct.unpack("<I", tail[:4])[0] + 8


def kind_of(name):
    if name.endswith(".crc"):
        return "crc"
    if name == "_SUCCESS":
        return "success"
    if name == "_MANIFEST":
        return "manifest"
    if name.endswith(".parquet"):
        return "parquet"
    return "other"


def walk(root):
    if os.path.isfile(root):
        yield root
        return
    for d, _, files in os.walk(root):
        for f in files:
            yield os.path.join(d, f)


def published(state_dir):
    with open(os.path.join(state_dir, "_CURRENT"), encoding="utf-8") as f:
        version = int(f.read().strip())
    vdir = os.path.join(state_dir, f"v{version}")
    groups = []  # (group, path)
    with open(os.path.join(vdir, "_MANIFEST"), encoding="utf-8") as f:
        for line in f:
            parts = line.split()
            if parts and parts[0] == "seg":
                groups.append((parts[1], os.path.join(state_dir, parts[2])))
    for entry in sorted(os.listdir(vdir)):
        path = os.path.join(vdir, entry)
        if os.path.isdir(path):
            groups.append((entry, path))
        else:
            groups.append(("manifest", path))
    return version, groups


def empty():
    return {"bytes": 0, "files": 0, **{k: {"bytes": 0, "files": 0} for k in KINDS}}


def add(acc, kind, nbytes):
    acc[kind]["bytes"] += nbytes
    acc[kind]["files"] += 1


def measure(state_dir):
    version, groups = published(state_dir)
    total = empty()
    by_group = {}
    for group, root in groups:
        g = by_group.setdefault(group, empty())
        for path in walk(root):
            size = os.path.getsize(path)
            kind = kind_of(os.path.basename(path))
            if kind == "parquet":
                foot = footer_len(path)
                parts = [("parquet_data", size - foot), ("parquet_footer", foot)]
            else:
                parts = [(kind, size)]
            for acc in (total, g):
                acc["bytes"] += size
                acc["files"] += 1
                for k, n in parts:
                    add(acc, k, n)
    by_kind = {k: total.pop(k) for k in KINDS}
    for g in by_group.values():
        for k in KINDS:
            if g[k]["files"] == 0:
                del g[k]
    return {"state_dir": os.path.abspath(state_dir), "version": version,
            "bytes": total["bytes"], "files": total["files"],
            "by_kind": by_kind, "by_group": dict(sorted(by_group.items()))}


def main(argv):
    if len(argv) != 2:
        print("usage: layout_bytes.py <stateDir>", file=sys.stderr)
        return 2
    print(json.dumps(measure(argv[1]), separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
