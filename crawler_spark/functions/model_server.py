"""HTTP calls to an Ollama-compatible model server — the one POST and
the one chat-JSON call behind the embedder (functions/embedding.py),
extractor (functions/extraction.py) and judge (functions/judge.py)
clients. ``transport`` is an injectable ``(url, payload) -> dict`` so
tests exercise request construction hermetically; the default is
urllib with a bounded timeout."""

from __future__ import annotations

import json


def post_json(url: str, payload: dict, timeout: float, transport=None) -> dict:
    """POST ``payload`` as JSON to ``url`` and return the decoded reply."""
    if transport is not None:
        return transport(url, payload)
    import urllib.request

    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read().decode("utf-8"))


class ChatJSONClient:
    """A client that asks ``/api/chat`` (``format:'json'``) for one JSON
    object per prompt (reference backend/src/structured_data.py:57-109).
    Timeout default mirrors structured_data.py:81 (3600 s)."""

    def __init__(
        self,
        base_url: str = "http://localhost:11434",
        model: str = "llama3.2:latest",
        timeout_sec: float = 3600.0,
        transport=None,
    ):
        self.base_url = base_url.rstrip("/")
        self.model = model
        self.timeout = timeout_sec
        self.transport = transport

    def _chat_json(self, prompt: str) -> str:
        """The reply's JSON object, re-serialized; ANY failure
        (transport, non-JSON reply, non-dict JSON, missing keys)
        degrades to ``'{}'`` exactly like the reference."""
        try:
            out = post_json(
                self.base_url + "/api/chat",
                {
                    "model": self.model,
                    "messages": [{"role": "user", "content": prompt}],
                    "format": "json",
                    "stream": False,
                },
                self.timeout,
                self.transport,
            )
            parsed = json.loads(out["message"]["content"])
            return json.dumps(parsed) if isinstance(parsed, dict) else "{}"
        except Exception:
            return "{}"
