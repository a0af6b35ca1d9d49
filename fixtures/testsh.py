"""Synthetic inputs of the reference's ``test/test.sh`` pipeline.

Writes two files:

- ``test.warc.gz``: one ``warcinfo`` record and three ``WARC/0.18``
  response records with TREC ids ``test1``–``test3`` at
  ``http://testN.com/index.html``. Every record carries the malformed
  date ``2009-03-65…`` the readers must tolerate. test1 links to test2
  with the anchor "discovery channel store" and to test3 with "test
  page"; no other page holds all three words of topic 53.
- ``wt2010-topics.queries-only``: 50 ``qid:query`` topics, 51–100.
  Topic 53 is ``discovery channel store``; topic 54 mentions ``obama``,
  a word no page or anchor contains.

Standard library only and deterministic (gzip mtime 0), so no binary is
committed. Tests call ``write_testsh_fixture``; by hand:

    python fixtures/testsh.py OUT_DIR
"""

from __future__ import annotations

import gzip
import os
import sys

WARC_NAME = "test.warc.gz"
TOPICS_NAME = "wt2010-topics.queries-only"
DATE = "2009-03-65T08:43:19-0800"

PAGES = {
    "test1": ('<a href="http://test2.com/index.html">discovery channel '
              'store</a> and <a href="http://test3.com/index.html">test '
              'page</a>'),
    "test2": 'A page about television. <a href="http://test1.com/">home</a>',
    "test3": 'Back to <a href="http://test1.com/index.html">the first page</a>',
}

TOPICS = [
    "horse hooves", "avp", "discovery channel store", "obama family tree",
    "iron", "uss yorktown charleston sc", "ct jobs", "penguins",
    "how to build a fence", "bellevue", "worm", "texas border patrol",
    "flushing", "moths", "korean language", "income tax return online",
    "vldl levels", "pvc", "sewing instructions", "to be or not to be",
    "living in india", "the sun", "neil young", "kiwi", "tornadoes",
    "raised gardens", "bobcat", "dieting", "voyager", "keyboard reviews",
    "afghanistan", "joints", "memory", "continental plates",
    "milwaukee journal sentinel", "bart sf", "who invented music",
    "forearm pain", "ocd", "mgb", "er tv show", "the wall", "raffles",
    "titan", "earn money at home", "rice", "south africa", "sat",
    "satellite", "rincon puerto rico",
]


def _record(headers: list[tuple[str, str]], body: bytes) -> bytes:
    head = ["WARC/0.18", *(f"{k}: {v}" for k, v in headers),
            f"Content-Length: {len(body)}"]
    return "\r\n".join(head).encode() + b"\r\n\r\n" + body + b"\r\n\r\n"


def _response(trec_id: str, n: int, links: str) -> bytes:
    html = (f"<html><head><title>Test page {n}</title></head>\n"
            f"<body><h1>Test page {n}</h1>\n<p>{links}</p>\n</body></html>\n")
    http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n{html}")
    return _record([("WARC-Type", "response"),
                    ("WARC-Target-URI", f"http://test{n}.com/index.html"),
                    ("WARC-Date", DATE),
                    ("WARC-Record-ID", f"<urn:uuid:0000000{n}>"),
                    ("WARC-TREC-ID", trec_id),
                    ("Content-Type", "application/http;msgtype=response")],
                   http.encode())


def write_testsh_fixture(out_dir: str) -> tuple[str, str]:
    """Write both files into ``out_dir``; returns (warc path, topics path)."""
    os.makedirs(out_dir, exist_ok=True)
    info = _record([("WARC-Type", "warcinfo"), ("WARC-Date", DATE),
                    ("WARC-Record-ID", "<urn:uuid:00000000>"),
                    ("Content-Type", "application/warc-fields")],
                   b"software: fixtures/testsh.py\r\nformat: WARC 0.18\r\n")
    data = info + b"".join(_response(t, i + 1, links)
                           for i, (t, links) in enumerate(PAGES.items()))
    warc_path = os.path.join(out_dir, WARC_NAME)
    with open(warc_path, "wb") as f:
        f.write(gzip.compress(data, mtime=0))
    topics_path = os.path.join(out_dir, TOPICS_NAME)
    with open(topics_path, "w") as f:
        f.writelines(f"{51 + i}:{q}\n" for i, q in enumerate(TOPICS))
    return warc_path, topics_path


if __name__ == "__main__":
    print(*write_testsh_fixture(sys.argv[1]), sep="\n")
