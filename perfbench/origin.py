"""Loopback origin + forward proxy serving a fixture web over HTTP/1.1.

One process, one thread (an asyncio loop), bound to 127.0.0.1 only.
A proxied request names its target in absolute form
(``GET http://h3.example.com/p/12 HTTP/1.1``); a direct one is
resolved through its Host header. Either way the response comes from
the fixture row for that URL, so the crawler sees exactly what the
offline fetch join would give it:

- retryable statuses are emulated by counting hits per URL: the page
  answers its listed status until it has been hit ``attempts_until_ok``
  times, then 200;
- redirects answer 301/302 with the target in ``Location``;
- a URL the web does not hold (a dead link) gets its connection closed
  with no response, which the client reports as a fetch error.

Counters (connections accepted, requests, error answers) are read and
reset over ``GET /__stats`` and ``POST /__reset`` on a direct
connection; those control requests are not counted.

Run: ``python3 perfbench/origin.py WEB_PARQUET_DIR PORT_FILE``. The
chosen port is written to PORT_FILE once the socket listens.
"""

from __future__ import annotations

import asyncio
import json
import os
import signal
import sys
from urllib.parse import urlsplit

_REASONS = {200: "OK", 301: "Moved Permanently", 302: "Found", 404: "Not Found",
            408: "Request Timeout", 429: "Too Many Requests",
            500: "Internal Server Error", 502: "Bad Gateway",
            503: "Service Unavailable", 504: "Gateway Timeout"}


def load_web(path: str) -> dict[str, dict]:
    import pyarrow.parquet as pq

    cols = ["url", "status", "content_type", "redirect_to", "body", "attempts_until_ok"]
    return {r["url"]: r for r in pq.read_table(path, columns=cols).to_pylist()}


class Origin:
    def __init__(self, web: dict[str, dict]) -> None:
        self.web = web
        self.hits: dict[str, int] = {}
        self.counts = {"connections": 0, "requests": 0, "errors": 0}

    def reset(self) -> None:
        self.hits.clear()
        self.counts = dict.fromkeys(self.counts, 0)

    def respond(self, url: str) -> tuple[int, dict, bytes] | None:
        """(status, headers, body) for one counted request, or None to
        drop the connection (dead link)."""
        page = self.web.get(url)
        if page is None:
            self.counts["errors"] += 1
            return None
        n = self.hits.get(url, 0)
        self.hits[url] = n + 1
        status = page["status"]
        if page["attempts_until_ok"] and n >= page["attempts_until_ok"]:
            status = 200
        headers = {}
        if page["content_type"] is not None:
            headers["Content-Type"] = page["content_type"]
        if page["redirect_to"] and status in (301, 302, 303, 307, 308):
            headers["Location"] = page["redirect_to"]
        if status >= 400:
            self.counts["errors"] += 1
        return status, headers, page["body"] or b""

    async def handle(self, reader: asyncio.StreamReader,
                     writer: asyncio.StreamWriter) -> None:
        counted = False
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")
                lines = head.decode("latin-1").split("\r\n")
                method, target, _ = lines[0].split(" ", 2)
                hdrs = {}
                for ln in lines[1:]:
                    if ":" in ln:
                        k, v = ln.split(":", 1)
                        hdrs[k.strip().lower()] = v.strip()
                n_body = int(hdrs.get("content-length") or 0)
                if n_body:
                    await reader.readexactly(n_body)
                if target.startswith("/__"):
                    body = b""
                    if target == "/__stats":
                        body = json.dumps(self.counts).encode()
                    elif target == "/__reset":
                        self.reset()
                    self._write(writer, 200, {"Content-Type": "application/json"}, body, True)
                    await writer.drain()
                    return
                if not counted:
                    self.counts["connections"] += 1
                    counted = True
                self.counts["requests"] += 1
                if target.startswith(("http://", "https://")):
                    url = target
                else:
                    url = f"http://{hdrs.get('host', '')}{target}"
                sp = urlsplit(url)
                url = f"{sp.scheme}://{sp.netloc}{sp.path}" + (f"?{sp.query}" if sp.query else "")
                answer = self.respond(url)
                if answer is None:
                    return  # dead link: close without a response
                close = (hdrs.get("connection", "").lower() == "close"
                         or hdrs.get("proxy-connection", "").lower() == "close")
                status, headers, body = answer
                self._write(writer, status, headers, body if method != "HEAD" else b"", close)
                await writer.drain()
                if close:
                    return
        except (asyncio.IncompleteReadError, ConnectionError, ValueError):
            return  # client went away or sent garbage
        finally:
            writer.close()

    @staticmethod
    def _write(writer, status: int, headers: dict, body: bytes, close: bool) -> None:
        out = [f"HTTP/1.1 {status} {_REASONS.get(status, 'Status')}"]
        out += [f"{k}: {v}" for k, v in headers.items()]
        out.append(f"Content-Length: {len(body)}")
        out.append("Connection: close" if close else "Connection: keep-alive")
        writer.write(("\r\n".join(out) + "\r\n\r\n").encode("latin-1") + body)


async def serve(web_path: str, port_file: str) -> None:
    origin = Origin(load_web(web_path))
    server = await asyncio.start_server(origin.handle, "127.0.0.1", 0, backlog=1024)
    port = server.sockets[0].getsockname()[1]
    tmp = port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(port))
    os.replace(tmp, port_file)
    stop = asyncio.Event()
    loop = asyncio.get_running_loop()
    for sig in (signal.SIGTERM, signal.SIGINT):
        loop.add_signal_handler(sig, stop.set)
    async with server:
        await stop.wait()


if __name__ == "__main__":
    asyncio.run(serve(sys.argv[1], sys.argv[2]))
