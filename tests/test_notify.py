"""Slack notifier parity tests — the reference's tests/test_slack.py
cases re-expressed over the injectable poster (the container has no
requests-mock; the HTTP layer is a constructor argument instead)."""

from __future__ import annotations

import logging

from nycdb_k8s_loader_spark.notify import SlackNotifier, escape


class Poster:
    def __init__(self, fail: Exception | None = None):
        self.calls: list[tuple[str, dict]] = []
        self.fail = fail

    def __call__(self, url: str, payload: dict) -> None:
        self.calls.append((url, payload))
        if self.fail:
            raise self.fail


def test_escape_matches_reference_doctest():
    assert (
        escape("We just need to escape &, <, and >.")
        == "We just need to escape &amp;, &lt;, and &gt;."
    )


def test_text_is_escaped_by_default(capsys):
    p = Poster()
    n = SlackNotifier(webhook_url="http://boop", post=p)
    assert n.sendmsg("bop < <") is True
    assert p.calls == [("http://boop", {"text": "bop &lt; &lt;"})]
    assert "bop < <" in capsys.readouterr().out  # stdout echoes raw


def test_text_is_unescaped_if_specified():
    p = Poster()
    n = SlackNotifier(webhook_url="http://boop", post=p, stdout=False)
    n.sendmsg("bop < <", is_safe=True)
    assert p.calls == [("http://boop", {"text": "bop < <"})]


def test_returns_false_and_swallows_when_post_fails(caplog):
    p = Poster(fail=OSError("webhook returned 500"))
    n = SlackNotifier(webhook_url="http://boop", post=p, stdout=False)
    with caplog.at_level(logging.ERROR, logger="nycdb_k8s_loader_spark.notify"):
        assert n.sendmsg("hi") is False
    assert "Error occurred when sending Slack message." in caplog.text


def test_returns_false_when_webhook_url_empty(caplog):
    p = Poster()
    n = SlackNotifier(webhook_url="", post=p, stdout=False)
    with caplog.at_level(logging.DEBUG, logger="nycdb_k8s_loader_spark.notify"):
        assert n.sendmsg("hi") is False
    assert p.calls == []
    assert "SLACK_WEBHOOK_URL is empty; not sending message." in caplog.text


def test_notifier_interface_never_raises():
    """The engine calls safe_notify; but even bare notify must swallow
    network errors (the contract the reference documents at
    lib/slack.py:41-46)."""
    n = SlackNotifier(
        webhook_url="http://boop",
        post=Poster(fail=RuntimeError("net down")),
        stdout=False,
    )
    n.notify("progress!")  # must not raise

def test_engine_accepts_slack_notifier():
    from nycdb_k8s_loader_spark.engine import Notifier

    assert isinstance(SlackNotifier(webhook_url=""), Notifier)
