"""The storage seam: the only module that lists, checks, removes or
renames store directories. Spark reads and writes the files inside a
store's ``<col>=<value>`` partition directories; every other step on
the directory tree is here. Local filesystem; a Hadoop FileSystem
implementation would replace this module alone.
"""

from __future__ import annotations

import json
import os
import re
import shutil

_INT = re.compile(r"-?[0-9]+")
_RECORD, _DELETED = "_replace.json", "_deletes_done"


def partition_dir(root: str, col: str, value) -> str:
    return os.path.join(root, f"{col}={value}")


def partitions(root: str, col: str) -> dict[str, str]:
    """{value: directory} of ``root``'s ``<col>=<value>`` subdirectories
    in name order (none if ``root`` is missing). Files and other entries
    (``_SUCCESS``, ``.crc`` files, ``_temporary``) are skipped."""
    if not os.path.isdir(root):
        return {}
    prefix = col + "="
    return {name[len(prefix):]: os.path.join(root, name)
            for name in sorted(os.listdir(root))
            if name.startswith(prefix)
            and os.path.isdir(os.path.join(root, name))}


def int_partitions(root: str, col: str) -> list[int]:
    """The integer ``<col>=`` values under ``root``, ascending; a value
    that is not an integer is skipped."""
    return sorted(int(v) for v in partitions(root, col) if _INT.fullmatch(v))


def date_dirs(store_path: str) -> dict[str, list[str]]:
    """date string → its ``dt=`` directories, at either layout depth
    (``store/dt=D`` and the streaming sink's ``store/epoch=N/dt=D``)."""
    out: dict[str, list[str]] = {}
    for root in (store_path, *partitions(store_path, "epoch").values()):
        for date, path in partitions(root, "dt").items():
            out.setdefault(date, []).append(path)
    return out


def parquet_files(dirs) -> int:
    """The number of ``.parquet`` files under ``dirs``, at any depth."""
    return sum(name.endswith(".parquet") and not name.startswith(".")
               for d in dirs for _, _, names in os.walk(d) for name in names)


def present(path: str, *tables: str) -> list[str]:
    """The subset of ``tables`` the store at ``path`` has."""
    return [t for t in tables if os.path.isdir(os.path.join(path, t))]


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def publish(src: str, dst: str) -> None:
    """Move ``src`` to ``dst`` by rename. Where ``dst`` is an existing
    directory, ``src``'s entries move into it one by one, so what it
    already holds stays (Spark's part-file names carry a per-write id
    and never collide); a merge cut short is finished by publishing
    ``src`` again."""
    if os.path.isdir(dst):
        for name in os.listdir(src):
            publish(os.path.join(src, name), os.path.join(dst, name))
    else:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)


def replace_staging(store_path: str) -> str:
    return store_path.rstrip("/") + "_replace_staging"


def commit_replacement(store_path: str, dates) -> None:
    """Swap the rows staged at :func:`replace_staging` in for everything
    the store holds for ``dates``: record the dates' directories (both
    layout depths) and the destination beside the staged files, delete
    the directories, mark the deletes done, then :func:`publish` each
    staged ``dt=`` directory. The destination is a fresh epoch below
    every existing one on an epoch-layout store (``dt=`` at the root of
    an ``epoch=N`` store would mix partition schemas), else the root.
    The record names directories, not dates, so redone deletes never
    touch an epoch the streaming sink landed after a crash."""
    staging = replace_staging(store_path)
    listed = date_dirs(store_path)
    epochs = int_partitions(store_path, "epoch")
    record = {"dirs": [os.path.relpath(p, store_path)
                       for d in dates for p in listed.get(str(d), [])],
              "dest": f"epoch={epochs[0] - 1}" if epochs else "."}
    with open(os.path.join(staging, _RECORD + ".tmp"), "w") as f:
        json.dump(record, f)
    os.replace(f.name, os.path.join(staging, _RECORD))
    recover_replacement(store_path)


def recover_replacement(store_path: str) -> bool:
    """Finish a date replacement, also one a crash interrupted; returns
    whether there was one. Staging without a record is discarded
    (nothing was deleted); with one, the deletes are redone unless
    marked done and what is still staged is published."""
    staging = replace_staging(store_path)
    if not os.path.isdir(staging):
        return False
    if not os.path.exists(os.path.join(staging, _RECORD)):
        remove(staging)
        return True
    with open(os.path.join(staging, _RECORD)) as f:
        record = json.load(f)
    deleted = os.path.join(staging, _DELETED)
    if not os.path.exists(deleted):
        for rel in record["dirs"]:
            remove(os.path.join(store_path, rel))
        open(deleted, "w").close()
    dest = os.path.normpath(os.path.join(store_path, record["dest"]))
    for date, path in partitions(staging, "dt").items():
        publish(path, partition_dir(dest, "dt", date))
    remove(staging)
    return True


def fresh_sibling(path: str, kind: str) -> str:
    """An empty ``<path>.<kind>`` (``compact``, ``forget``) for a store
    rewrite to fill before :func:`swap_in`."""
    sib = f"{path.rstrip('/')}.{kind}"
    remove(sib)
    return sib


def swap_in(path: str, sib: str) -> None:
    """Promote a fully written sibling store: the live store moves to
    ``.old``, the sibling moves in, THEN the old bytes go. A crash at
    any point leaves a complete store at the live or the ``.old`` path,
    which :func:`recover_swap` repairs."""
    old = path.rstrip("/") + ".old"
    remove(old)
    os.rename(path, old)
    os.rename(sib, path)
    remove(old)


def recover_swap(path: str) -> bool:
    """Promote the ``.old`` store a crash between :func:`swap_in`'s two
    moves left, when nothing is at the live path. Returns whether it
    did."""
    old = path.rstrip("/") + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        return True
    return False
