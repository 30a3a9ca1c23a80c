"""Search demo — the reference's demo surface (demo.py Gradio textbox +
main.py:44-58 ranked printout) as a command line and an optional web UI:

    python -m coldata_spark.demo "time series sensor data" "image dataset"
    python -m coldata_spark.demo --serve --port 7860   # interactive UI

``--serve`` uses Gradio when installed (the reference's exact surface,
demo.py:1-20); in environments without it, a dependency-free stdlib
http.server fallback serves the same search form, so the interactive
surface always exists.

Builds (or reuses) an IVF index over the documents fixture, embeds the
queries, searches, and prints ranked results with previews.  Pass
--sf-dir to point at another corpus.  The index is renewed (vdb.py:199-201)
whenever the fixture's content stamp changes; a same-content rebuild would
reproduce the same index, since the k-means seed is fixed.
"""

from __future__ import annotations

import argparse
import html as _html
import os

from coldata_spark import search as S
from coldata_spark.operators import ivf
from coldata_spark.session import get_spark
from coldata_spark.tables import build_once, load

NLIST = 8


def load_index(spark, sf_dir: str) -> ivf.SearchIndex:
    """Build the documents index once per fixture content and open it on
    later calls: the stored vectors AND the centroids that placed them
    (re-fitting centroids on the stored vectors would probe cells the
    vectors were never assigned to)."""

    def build(root):
        S.build_index(
            load(spark, sf_dir, "documents"), os.path.join(root, "index"), nlist=NLIST
        )

    root = build_once(f"demo-index-v3|{NLIST}", build, sf_dir)
    return ivf.open_index(spark, os.path.join(root, "index"))


def _search_rows(spark, idx, docs, query: str, k: int, nprobe):
    """One query -> list of (rank, doc_id, score, preview) tuples."""
    rows = S.search(spark, idx, docs, [query], k=k, nprobe=nprobe).collect()
    return [
        (r.rank, r.doc_id, float(r.score), r.preview)
        for r in sorted(rows, key=lambda r: r.rank)
    ]


def serve(spark, idx, docs, k: int, nprobe, port: int, block: bool = True):
    """Interactive search UI: Gradio when available, stdlib HTTP otherwise.

    Returns the running server object (Gradio app or http.server instance);
    with ``block=False`` the stdlib server runs on a daemon thread (used by
    tests to drive the UI end-to-end).
    """
    try:
        import gradio  # type: ignore

        def gr_fn(query: str):
            return [
                {"rank": rk, "doc_id": d, "score": s, "preview": p[:160]}
                for rk, d, s, p in _search_rows(spark, idx, docs, query, k, nprobe)
            ]

        app = gradio.Interface(
            fn=gr_fn,
            inputs=gradio.Textbox(label="search the corpus"),
            outputs=gradio.JSON(label="ranked results"),
            title="coldata_spark dataset search",
        )
        app.launch(server_port=port, prevent_thread_lock=not block)
        return app
    except ImportError:
        pass

    import http.server
    import threading
    import urllib.parse

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test runs
            pass

        def do_GET(self):
            q = urllib.parse.parse_qs(
                urllib.parse.urlparse(self.path).query
            ).get("q", [""])[0]
            rows = (
                _search_rows(spark, idx, docs, q, k, nprobe) if q.strip() else []
            )
            body = [
                "<html><body><h1>coldata_spark dataset search</h1>",
                '<form method="get"><input name="q" value="{}" size="60"/>'
                "<button>search</button></form>".format(_html.escape(q, quote=True)),
            ]
            if rows:
                body.append("<ol>")
                body.extend(
                    f"<li>doc {d} (score {s:.4f}): {_html.escape(p[:160])}</li>"
                    for _rk, d, s, p in rows
                )
                body.append("</ol>")
            body.append("</body></html>")
            payload = "".join(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", port), Handler)
    if block:
        print(f"serving on http://127.0.0.1:{srv.server_address[1]}/")
        srv.serve_forever()
    else:
        threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def main() -> None:
    ap = argparse.ArgumentParser(description="coldata_spark dataset search demo")
    ap.add_argument("queries", nargs="*", help="free-text search queries")
    ap.add_argument("--serve", action="store_true", help="run the web UI")
    ap.add_argument("--port", type=int, default=7860, help="web UI port")
    ap.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001", help="fixture directory"
    )
    ap.add_argument("--k", type=int, default=4, help="results per query")
    ap.add_argument("--nprobe", type=int, default=None, help="IVF cells to probe")
    args = ap.parse_args()

    spark = get_spark(app_name="coldata_spark_demo")
    docs = load(spark, args.sf_dir, "documents")
    idx = load_index(spark, args.sf_dir)

    if args.serve:
        serve(spark, idx, docs, args.k, args.nprobe, args.port)
        return
    if not args.queries:
        ap.error("provide queries, or --serve for the web UI")

    results = S.search(
        spark, idx, docs, args.queries, k=args.k, nprobe=args.nprobe
    ).collect()

    by_q: dict[int, list] = {}
    for r in results:
        by_q.setdefault(r.q_id, []).append(r)
    for qid in sorted(by_q):
        rows = sorted(by_q[qid], key=lambda r: r.rank)
        print(f"\n=== query: {rows[0].q_text!r}")
        for r in rows:
            print(f"  [{r.rank}] doc {r.doc_id}  score={r.score:.4f}")
            print(f"      {r.preview[:120]}")


if __name__ == "__main__":
    main()
