"""Settings parity tests (reference ``Settings.scala:14-81`` /
``Context.scala:12-16``): typed keys with validators, immutable
``with_value`` overrides, environment layering, and Context booting its
session factory from the ``SESSION_FACTORY`` key."""

from types import SimpleNamespace

import pytest

from spear_spark.config import (
    SESSION_FACTORY,
    STAGING_MODE,
    Key,
    Settings,
    SettingsValidationError,
    _boolean,
    resolve_session_factory,
)

_INT = Key("spear_spark.test-int", int, default=7)
_FLAG = Key("spear_spark.test-flag", _boolean, default="false")


def test_default_and_with_value_layering():
    s = Settings()
    assert s[_INT] == 7
    s2 = s.with_value(_INT, "42")
    assert s2[_INT] == 42  # converted through the key's type
    assert s[_INT] == 7  # with_value is functional, original untouched


def test_boolean_conversion_matrix():
    s = Settings()
    assert s[_FLAG] is False
    assert s.with_value(_FLAG, "TRUE")[_FLAG] is True
    assert s.with_value(_FLAG, "off")[_FLAG] is False
    with pytest.raises(SettingsValidationError, match="spear_spark.test-flag"):
        s.with_value(_FLAG, "maybe")[_FLAG]


def test_environment_layering(monkeypatch):
    # env overrides the default but loses to an explicit with_value,
    # mirroring the reference's systemEnvironment-first fallback chain
    monkeypatch.setenv(_INT.env_name, "99")
    assert Settings()[_INT] == 99
    assert Settings().with_value(_INT, 3)[_INT] == 3


def test_validator_failure_names_the_key():
    bounded = _INT.validate(lambda v: v > 0)
    with pytest.raises(SettingsValidationError, match="spear_spark.test-int"):
        Settings().with_value(bounded, -1)[bounded]


def test_missing_key_without_default_raises():
    nodefault = Key("spear_spark.test-nodefault", int)
    with pytest.raises(SettingsValidationError, match="no default"):
        Settings()[nodefault]


def test_none_default_means_optional_not_missing():
    # default=None is a legitimate "optional, unset" default — distinct
    # from no-default (above) and never fed through the converter
    opt = Key("spear_spark.test-opt", int, default=None)
    assert Settings()[opt] is None
    assert Settings().with_value(opt, "5")[opt] == 5


class _SentinelConf(dict):
    set = dict.__setitem__


_SENTINEL = SimpleNamespace(conf=_SentinelConf())


def _sentinel_factory():
    return _SENTINEL


def test_context_boots_session_factory_from_settings(spark):
    """The Context.scala:12-16 analog: the backing component is
    class-for-name'd from settings.  A sentinel factory proves the
    dotted path is resolved and CALLED; the default path must point at
    get_spark."""
    from spear_spark.context import Context

    assert Settings()[SESSION_FACTORY] == "spear_spark.context.get_spark"
    s = Settings().with_value(SESSION_FACTORY, f"{__name__}._sentinel_factory")
    assert Context(settings=s).spark is _SENTINEL
    # the booted session carries the resolved staging mode, which is
    # where config.stage reads it
    assert _SENTINEL.conf == {STAGING_MODE.name: "local"}
    with pytest.raises(SettingsValidationError, match="staging-mode"):
        Context(settings=s.with_value(STAGING_MODE, "both"))
    # an explicit session wins — no factory boot
    assert Context(spark=spark).spark is spark
    # both at once is a contract error: the settings' factory would be
    # silently ignored (an invalid path never validated), so refuse
    with pytest.raises(ValueError, match="not both"):
        Context(spark=spark, settings=s)


def test_unimportable_factory_raises_descriptively():
    s = Settings().with_value(SESSION_FACTORY, "no.such.module.factory")
    with pytest.raises(SettingsValidationError, match="session-factory"):
        resolve_session_factory(s)
    s2 = Settings().with_value(SESSION_FACTORY, "nodots")
    with pytest.raises(SettingsValidationError, match="session-factory"):
        Settings()  # construction fine...
        _ = s2[SESSION_FACTORY]  # ...but the dotted-path validator fires


def test_staging_mode_validator():
    s = Settings()
    assert s[STAGING_MODE] == "local"
    assert s.with_value(STAGING_MODE, "reliable")[STAGING_MODE] == "reliable"
    with pytest.raises(SettingsValidationError, match="staging-mode"):
        s.with_value(STAGING_MODE, "both")[STAGING_MODE]


def test_stage_local_default(spark, unset_mode):
    from spear_spark.config import stage

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    staged = stage(df)
    # localCheckpoint truncates lineage to an RDD scan
    assert staged.count() == 100
    assert "LogicalRDD" in staged._jdf.queryExecution().optimizedPlan().toString()


def test_stage_reliable_requires_checkpoint_dir(spark, unset_mode, checkpoint_dir, monkeypatch):
    from pyspark import SparkContext

    from spear_spark.config import STAGING_MODE, stage

    df = spark.range(10)
    spark.conf.set(STAGING_MODE.name, "reliable")
    # the fixture (or an earlier test) set a dir; hide it so the raise
    # path runs every time
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "getCheckpointDir", lambda self: None)
        with pytest.raises(SettingsValidationError, match="checkpoint directory"):
            stage(df)
    staged = stage(df)
    assert staged.count() == 10
    # reliable checkpoint also reads back as an RDD scan, but its
    # blocks live in the checkpoint dir (survives executor loss)
    assert "LogicalRDD" in staged._jdf.queryExecution().optimizedPlan().toString()


def test_stage_mode_layers(spark, unset_mode, monkeypatch):
    from spear_spark.config import STAGING_MODE, stage

    df = spark.range(5)
    monkeypatch.setenv(STAGING_MODE.env_name, "nonsense")
    with pytest.raises(SettingsValidationError, match="staging-mode"):
        stage(df)
    # the session conf wins over the environment...
    spark.conf.set(STAGING_MODE.name, "local")
    assert stage(df).count() == 5
    # ...and is checked by the same validator
    spark.conf.set(STAGING_MODE.name, "both")
    with pytest.raises(SettingsValidationError, match="staging-mode"):
        stage(df)
