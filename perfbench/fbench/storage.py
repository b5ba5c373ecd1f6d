"""Storage accounting from outside the program: walks a table's
directory after each commit. Nothing here calls into Spark.

- written: bytes and files that appeared (or changed) since the last
  walk, anywhere under the table dir (data, logs and metadata).
- store bytes: every byte under the table dir (data, staging and
  metadata), except the changelog (the WAL, with before-images) in the
  log and remote dirs. Snapshot compaction never
  rewrites the changelog, so it only grows and would dilute the ratio.
- live bytes: the data the current version reads: the manifest's
  (data dir, bucket) entries. store / live is the space amplification;
  stale snapshot dirs left behind, staging files and metadata raise it.
- manifest dirs: distinct snapshot data dirs the manifest references;
  log dirs: committed changelog commit dirs.

The files go through the OS page cache; nothing here flushes or drops
it, so the figures are the same on both sides of an A/B.
"""

from __future__ import annotations

import os


def _files(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def _under(files: dict, path: str) -> int:
    prefix = os.path.join(path, "")
    return sum(s for p, (s, _, _) in files.items() if p.startswith(prefix))


class TableSpace:
    def __init__(self, table):
        self.table = table
        self.root = table.catalog.table_dir(table.db, table.name)
        self.seen: dict[str, tuple[int, int, int]] = {}
        self.bytes_written = 0
        self.files_written = 0

    def reset(self) -> None:
        """Start counting writes from the table's current files."""
        self.seen = _files(self.root)
        self.bytes_written = self.files_written = 0

    def sample(self) -> dict:
        """Walk once: add new files to the written totals and return the
        table's version, byte and dir counts, and the running totals."""
        now = _files(self.root)
        for path, stat in now.items():
            if self.seen.get(path) != stat:
                self.bytes_written += stat[0]
                self.files_written += 1
        self.seen = now
        t = self.table
        state = t.catalog.current_commit(t.db, t.name)
        local, remote = t.log.committed_dirs()
        manifest = t.kv._manifest(state.snapshot_version) or {}
        store = (_under(now, self.root) - _under(now, t.log.log_dir)
                 - _under(now, t.log.remote_dir))
        live = sum(
            _under(now, os.path.join(t.kv.snapshot_dir, d, f"__bucket={b}"))
            for b, d in manifest.items()
        )
        return {
            "version": state.version,
            "store_bytes": store,
            "live_bytes": live,
            "manifest_dirs": len(set(manifest.values())),
            "log_dirs": len({**remote, **local}),
            "bytes_written": self.bytes_written,
            "files_written": self.files_written,
        }
