"""Maps files staged into a streaming file source to the micro-batch that
read them, from the query's checkpoint.

The file-source log (``sources/<i>/<n>`` and its ``.compact`` files)
records for each file the source's own ``batchId``, which is the source's
log offset. It is not the query's batch id: the query also runs no-data
batches (to advance a watermark), which take a batch id but leave the
source offset where it was. The query's ``offsets/<batchId>`` file names
the source's ``logOffset`` as of that batch, so a file with source offset
L was read by the first query batch whose ``logOffset`` reached L.
"""
import bisect
import json
import os
from urllib.parse import unquote, urlparse


def _json_lines(path):
    with open(path) as f:
        lines = f.read().splitlines()
    return [json.loads(x) for x in lines[1:] if x.strip()]  # line 0: "v1"


def _ids(d, suffix=""):
    out = []
    for name in os.listdir(d) if os.path.isdir(d) else []:
        base = name[:-len(suffix)] if suffix and name.endswith(suffix) else name
        if base.isdigit():
            out.append(int(base))
    return out


def source_offsets(ckpt, source=0):
    """{local file path: source log offset} for every file the source saw."""
    d = os.path.join(ckpt, "sources", str(source))
    seen = {}
    names = [n for n in os.listdir(d) if n.split(".")[0].isdigit()]
    for name in sorted(names, key=lambda n: int(n.split(".")[0])):
        for e in _json_lines(os.path.join(d, name)):
            seen[unquote(urlparse(e["path"]).path)] = int(e["batchId"])
    return seen


def batch_log_offsets(ckpt, source=0):
    """[(query batch id, source logOffset)] ordered by batch id."""
    d = os.path.join(ckpt, "offsets")
    out = []
    for b in sorted(_ids(d)):
        rows = _json_lines(os.path.join(d, str(b)))
        # rows[0] is the batch metadata, then one offset per source
        out.append((b, int(rows[1 + source]["logOffset"])))
    return out


def commit_times_ms(ckpt):
    """{query batch id: commit time (ms, from the commit log's mtime)}."""
    d = os.path.join(ckpt, "commits")
    return {b: os.stat(os.path.join(d, str(b))).st_mtime_ns / 1e6 for b in _ids(d)}


def file_batches(ckpt, source=0):
    """{local file path: query batch id that read it, or None}."""
    offs = batch_log_offsets(ckpt, source)
    logs = [o for _, o in offs]
    out = {}
    for path, lo in source_offsets(ckpt, source).items():
        i = bisect.bisect_left(logs, lo)
        out[path] = offs[i][0] if i < len(offs) else None
    return out
