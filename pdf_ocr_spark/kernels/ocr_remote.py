"""Remote-VLM OCR backend: OpenAI-compatible chat-completions client,
batched per partition — the production slot for the OCR stage.

Re-expresses the reference's remote pipeline
(/root/reference/pdf_ocr_with_silicon_remote_vllm.py):
  * base64 data-URI image payload (``_image_to_base64``, :95-125 — F9)
  * ``messages=[{role: user, content: [image_url, text]}]`` request body
    (:191-207)
  * ``choices[0].message.content`` extraction + token-usage accounting
    (:212-226 — A7)
  * per-language prompt selection (``parse_ocr``, :249-258 — F14)

Differences by design (checkpointed-pipeline semantics, not the
reference's interactive failure→None at :230-232):
  * bounded retries with exponential backoff per page — a transient
    500/timeout must not silently become an empty page that then COMMITS
    and is never reprocessed (the resume anti-join would pin the loss
    forever at crawl scale);
  * on retry exhaustion the page result is ``None`` — a *failure marker*
    distinct from ``[]`` (a genuinely blank page) — which the pipeline
    surfaces as a typed ``ocr_failed`` document failure that resume can
    retry;
  * the engine lives once per executor python worker and a partition's
    pages flow through ONE persistent ``http.client`` connection
    (keep-alive), reconnecting only after an error.  stdlib only — no SDK
    dependency.
"""

from __future__ import annotations

import base64
import http.client
import json
import time
import urllib.parse
from typing import List, Optional, Sequence, Tuple

from pdf_ocr_spark.kernels.ocr_stub import OCR_MIN_CONFIDENCE, OcrEngine

# reference prompt map (pdf_ocr_with_silicon_remote_vllm.py:249-258)
PROMPTS = {
    "auto": "Extract all text from this image. Output only the text.",
    "zh": "提取图片中的所有文字，只输出文字内容。",
    "ja": "画像内のすべてのテキストを抽出し、テキストのみを出力してください。",
}


def image_data_uri(image: bytes, mime: str = "image/png") -> str:
    """F9: raw image bytes → ``data:<mime>;base64,…`` URI
    (pdf_ocr_with_silicon_remote_vllm.py:95-125)."""
    return f"data:{mime};base64,{base64.b64encode(image).decode('ascii')}"


def parse_layout_response(response: str) -> dict:
    """F5: the reference's layout-response parse with its exact 3-way
    fence fallback (pdf_ocr_with_silicon_remote_vllm.py:317-334):
    ```json …``` block if present, else the first bare ``` …``` block,
    else the raw stripped text; JSON parse success →
    ``{"layout": parsed, "raw_response": response}``, failure →
    ``{"text": response, "error": str(e)}`` — models answer in several
    fence dialects and the client must survive all of them."""
    import json as _json

    if "```json" in response:
        start = response.find("```json") + 7
        end = response.find("```", start)
        json_str = response[start:end].strip()
    elif "```" in response:
        start = response.find("```") + 3
        end = response.find("```", start)
        json_str = response[start:end].strip()
    else:
        json_str = response.strip()
    try:
        return {"layout": _json.loads(json_str), "raw_response": response}
    except (ValueError, TypeError) as e:        # json.JSONDecodeError ⊂ ValueError
        return {"text": response, "error": str(e)}


class _Non5xxError(Exception):
    """Definitive HTTP rejection (4xx other than 408/429) — not retryable."""


class RemoteVlmEngine(OcrEngine):
    """OpenAI-compatible /chat/completions OCR client.

    Plugs into the same ``recognize_batch`` interface as the stub, so
    the extraction core (``extract_job._parse_batch``) needs zero changes to run
    against a real vLLM/SiliconFlow endpoint:

        engine = RemoteVlmEngine(base_url, api_key, model)
    """

    def __init__(
        self,
        base_url: str,
        api_key: str = "",
        model: str = "Qwen/Qwen3-VL-32B-Instruct",
        lang: str = "auto",
        max_tokens: int = 8192,
        temperature: float = 0.0,
        timeout: float = 120.0,
        max_attempts: int = 3,
        backoff: float = 0.5,
    ) -> None:
        u = urllib.parse.urlsplit(base_url.rstrip("/") + "/chat/completions")
        self._https = u.scheme == "https"
        self._host = u.hostname or "localhost"
        self._port = u.port
        self._path = u.path + (("?" + u.query) if u.query else "")
        self.api_key = api_key
        self.model = model
        self.prompt = PROMPTS.get(lang, PROMPTS["auto"])
        self.max_tokens = max_tokens
        self.temperature = temperature
        self.timeout = timeout
        self.max_attempts = max_attempts
        self.backoff = backoff
        self._sleep = time.sleep  # injectable for tests
        self._conn: Optional[http.client.HTTPConnection] = None
        # A7 token accounting, summed across the worker's lifetime
        self.prompt_tokens = 0
        self.completion_tokens = 0

    # -- connection management (keep-alive across a partition's pages) ----

    def _connection(self) -> http.client.HTTPConnection:
        if self._conn is None:
            cls = http.client.HTTPSConnection if self._https else http.client.HTTPConnection
            self._conn = cls(self._host, self._port, timeout=self.timeout)
        return self._conn

    def _drop_connection(self) -> None:
        if self._conn is not None:
            try:
                self._conn.close()
            finally:
                self._conn = None

    def _request_once(self, body: bytes) -> str:
        """One POST over the persistent connection; raises on any failure.
        5xx/408/429 raise a retryable error, other 4xx raise
        ``_Non5xxError`` (definitive — retrying a 401 is pointless)."""
        conn = self._connection()
        headers = {
            "Content-Type": "application/json",
            "Content-Length": str(len(body)),
        }
        if self.api_key:
            headers["Authorization"] = f"Bearer {self.api_key}"
        conn.request("POST", self._path, body=body, headers=headers)
        resp = conn.getresponse()
        data = resp.read()  # must drain to reuse the connection
        if resp.status >= 500 or resp.status in (408, 429):
            raise ConnectionError(f"HTTP {resp.status}")
        if resp.status >= 400:
            raise _Non5xxError(f"HTTP {resp.status}")
        payload = json.loads(data.decode("utf-8"))
        # extract the content BEFORE counting usage: a malformed 200
        # (e.g. an error object served with usage but no choices) is
        # retried, and counting first would inflate A7 accounting once
        # per attempt
        content = payload["choices"][0]["message"]["content"]
        usage = payload.get("usage") or {}
        self.prompt_tokens += int(usage.get("prompt_tokens", 0))
        self.completion_tokens += int(usage.get("completion_tokens", 0))
        return content

    def _call(self, image: bytes) -> Optional[str]:
        """One page with bounded retries + exponential backoff.  Returns
        the recognized text, or ``None`` after exhausting retries — the
        caller-visible OCR-FAILED marker (never an exception: one poison
        page must not fail the partition's task)."""
        body = json.dumps(
            {
                "model": self.model,
                "messages": [
                    {
                        "role": "user",
                        "content": [
                            {
                                "type": "image_url",
                                "image_url": {"url": image_data_uri(image)},
                            },
                            {"type": "text", "text": self.prompt},
                        ],
                    }
                ],
                "temperature": self.temperature,
                "max_tokens": self.max_tokens,
            }
        ).encode("utf-8")
        for attempt in range(self.max_attempts):
            try:
                return self._request_once(body)
            except _Non5xxError:
                self._drop_connection()
                return None
            except Exception:  # noqa: BLE001 — timeout, 5xx, conn reset, bad JSON
                self._drop_connection()
                if attempt + 1 < self.max_attempts:
                    self._sleep(self.backoff * (2 ** attempt))
        return None

    def recognize_batch(
        self, images: Sequence[Optional[bytes]]
    ) -> List[Optional[List[Tuple[str, float]]]]:
        out: List[Optional[List[Tuple[str, float]]]] = []
        for img in images:
            if not img:
                out.append([])  # no payload → genuinely nothing to OCR
                continue
            text = self._call(img)
            if text is None:
                out.append(None)  # OCR FAILED — distinct from a blank page
                continue
            # remote responses carry no per-line confidence; the engine
            # reports them at 1.0 so the P1 filter (>OCR_MIN_CONFIDENCE)
            # passes every returned line, matching the reference's
            # unfiltered use of remote output
            out.append(
                [(ln, 1.0) for ln in text.split("\n") if ln.strip()]
            )
        return out


def engine_from_env() -> Optional[OcrEngine]:
    """Production wiring: executors export SPARK_GRAFT_OCR_URL (and
    optionally _KEY/_MODEL/_LANG) to swap the stub for the remote engine —
    no code change, the lazy ``get_engine`` path picks it up."""
    import os

    url = os.environ.get("SPARK_GRAFT_OCR_URL")
    if not url:
        return None
    return RemoteVlmEngine(
        url,
        api_key=os.environ.get("SPARK_GRAFT_OCR_KEY", ""),
        model=os.environ.get("SPARK_GRAFT_OCR_MODEL", "Qwen/Qwen3-VL-32B-Instruct"),
        lang=os.environ.get("SPARK_GRAFT_OCR_LANG", "auto"),
    )


# silence the unused-import warning tools: OCR_MIN_CONFIDENCE is re-exported
# for engine implementations that do carry confidences
__all__ = [
    "OCR_MIN_CONFIDENCE",
    "PROMPTS",
    "RemoteVlmEngine",
    "engine_from_env",
    "image_data_uri",
]
