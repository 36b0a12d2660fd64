"""Slack webhook notifications — the engine's operational heartbeat.

Capability twin of the reference's lib/slack.py:16-76: messages are
HTML-escaped per Slack's guidelines, posted to an incoming-webhook URL
as a form-encoded ``payload`` JSON, and EVERY failure path is swallowed
(logged, never raised) — a notification outage must never fail a load.

Differences from the reference, by design:
- stdlib ``urllib`` instead of requests (no extra dependency), with the
  HTTP POST injectable for tests (the reference uses requests-mock).
- :class:`SlackNotifier` adapts the module functions onto the engine's
  ``Notifier`` interface (engine.py), so builds report progress the
  same way the reference's wowutil/load_dataset do
  (wowutil.py:145,186).
"""

from __future__ import annotations

import json
import logging
import os
import urllib.parse
import urllib.request
from collections.abc import Callable

from nycdb_k8s_loader_spark.engine import Notifier

logger = logging.getLogger(__name__)

SLACK_TIMEOUT = int(os.environ.get("SLACK_TIMEOUT", "5"))


def escape(text: str) -> str:
    """Escape ``&``, ``<``, ``>`` per Slack's message-formatting rules
    (reference lib/slack.py:22-34)."""
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _default_post(url: str, payload: dict) -> None:
    """Form-encoded webhook POST (reference lib/slack.py:16-19 posts
    ``data={"payload": json.dumps(...)}``); raises on HTTP errors."""
    data = urllib.parse.urlencode({"payload": json.dumps(payload)}).encode()
    req = urllib.request.Request(url, data=data, method="POST")
    with urllib.request.urlopen(req, timeout=SLACK_TIMEOUT) as res:
        if res.status >= 400:  # pragma: no cover - urlopen raises first
            raise OSError(f"webhook returned {res.status}")


class SlackNotifier(Notifier):
    """Webhook-backed Notifier: escape + post + swallow-errors.

    ``webhook_url`` defaults to ``$SLACK_WEBHOOK_URL`` (reference
    lib/slack.py:8); empty URL → every send is a logged no-op that
    returns False, matching the reference's dev-mode behavior.
    """

    def __init__(
        self,
        webhook_url: str | None = None,
        post: Callable[[str, dict], None] = _default_post,
        stdout: bool = True,
    ) -> None:
        self.webhook_url = (
            webhook_url
            if webhook_url is not None
            else os.environ.get("SLACK_WEBHOOK_URL", "")
        )
        self.post = post
        self.stdout = stdout

    def send_payload(self, payload: dict) -> bool:
        """True iff delivered; network errors are logged and swallowed
        (reference lib/slack.py:37-59)."""
        if self.webhook_url:
            try:
                self.post(self.webhook_url, payload)
                return True
            except Exception:  # noqa: BLE001 - by contract never raise
                logger.exception("Error occurred when sending Slack message.")
        else:
            logger.debug("SLACK_WEBHOOK_URL is empty; not sending message.")
        return False

    def sendmsg(self, text: str, is_safe: bool = False) -> bool:
        """Escape-unless-safe + send (reference lib/slack.py:62-76)."""
        if self.stdout:
            print(text)
        if not is_safe:
            text = escape(text)
        return self.send_payload({"text": text})

    # -- Notifier interface ---------------------------------------------------

    def notify(self, message: str) -> None:
        self.sendmsg(message)
