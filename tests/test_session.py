"""Session tuning reports the confs a session refuses."""

from __future__ import annotations

import logging

from palletjack_spark import tune_session


class _RefusingConf:
    def set(self, key, value):
        if key == "spark.sql.adaptive.enabled":
            raise RuntimeError("CANNOT_MODIFY_CONFIG")


class _Session:
    conf = _RefusingConf()


def test_refused_conf_is_logged_with_key_and_error(caplog):
    with caplog.at_level(logging.WARNING, logger="palletjack_spark.session"):
        tune_session(_Session())
    refused = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert len(refused) == 1
    assert "spark.sql.adaptive.enabled" in refused[0]
    assert "CANNOT_MODIFY_CONFIG" in refused[0]
