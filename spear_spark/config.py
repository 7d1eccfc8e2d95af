"""Settings — typed, validated, layered configuration.

Reference parity: ``spear.config.Settings``
(``/root/reference/spear-core/src/main/scala/spear/config/Settings.scala:14-81``)
is a Typesafe-Config wrapper with typed ``Key``\\ s, per-key validators
raising ``SettingsValidationException``, immutable ``withValue``
overrides, and layered resolution (environment variables over system
properties over user config files over the reference defaults).  The
reference ``Context`` boots its query-compiler CLASS from the
``spear.query-compiler.class`` key
(``Context.scala:12-16`` / ``config/package.scala``).

Spark-first mapping: Catalyst *is* the query compiler, so the booted
component becomes the SparkSession factory — ``SESSION_FACTORY`` names
a dotted-path callable returning a ``SparkSession`` and
:class:`spear_spark.context.Context` resolves it when no session is
passed in.  Resolution layers, highest first: explicit ``with_value``
overrides → process environment (key name upper-cased, non-alnum → _)
→ the key's default.  Values convert through the key's type and pass
its validator; failures raise :class:`SettingsValidationError` naming
the key, like the reference.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Generic, TypeVar

T = TypeVar("T")

#: Distinct no-default sentinel so ``default=None`` stays expressible
#: as a legitimate optional-key default (``None`` resolves as-is,
#: skipping conversion) rather than colliding with "no default set".
_NO_DEFAULT: Any = object()


class SettingsValidationError(ValueError):
    """Raised when a configured value fails its key's conversion or
    validation (reference ``SettingsValidationException``)."""


class Key(Generic[T]):
    """A typed settings key (reference ``Settings.Key``): name,
    converter (the reference's ``getBoolean``/``getInt``/... accessors),
    optional validator, and a default (the reference keeps defaults in
    ``spear-reference.conf``; a resource file would be overkill here)."""

    def __init__(
        self,
        name: str,
        convert: Callable[[Any], T],
        default: Any = _NO_DEFAULT,
        validator: Callable[[T], bool] | None = None,
    ):
        self.name = name
        self.convert = convert
        self.default = default
        self.validator = validator

    def validate(self, validator: Callable[[T], bool]) -> "Key[T]":
        """Return a copy with ``validator`` attached
        (``Settings.scala:32``)."""
        return Key(self.name, self.convert, self.default, validator)

    @property
    def env_name(self) -> str:
        return "".join(c if c.isalnum() else "_" for c in self.name).upper()

    def __repr__(self) -> str:  # Key.toString is the name
        return self.name


def _boolean(v: Any) -> bool:
    if isinstance(v, bool):
        return v
    s = str(v).strip().lower()
    if s in ("true", "yes", "on", "1"):
        return True
    if s in ("false", "no", "off", "0"):
        return False
    raise ValueError(f"not a boolean: {v!r}")


class Settings:
    """Immutable layered key→value store (reference ``Settings``)."""

    def __init__(self, values: dict[str, Any] | None = None):
        self._values = dict(values or {})

    def __getitem__(self, key: Key[T]) -> T:
        """Resolve, convert and validate (reference ``Settings.apply``):
        explicit override → environment → default."""
        if key.name in self._values:
            raw = self._values[key.name]
        elif key.env_name in os.environ:
            raw = os.environ[key.env_name]
        elif key.default is not _NO_DEFAULT:
            raw = key.default
        else:
            raise SettingsValidationError(
                f"settings key {key.name} has no configured value and no default"
            )
        if raw is None:
            # None means "optional key, unset" — never fed through the
            # converter (int(None)/str(None) would mangle it)
            return None  # type: ignore[return-value]
        try:
            value = key.convert(raw)
            if key.validator is not None and not key.validator(value):
                raise ValueError("validator returned False")
        except SettingsValidationError:
            raise
        except Exception as cause:
            raise SettingsValidationError(
                f"Configured value of settings key {key.name} didn't pass "
                f"validation: {cause}"
            ) from cause
        return value

    def with_value(self, key: Key[T] | str, value: Any) -> "Settings":
        """Functional override returning a NEW Settings
        (``Settings.scala:22-27``)."""
        name = key if isinstance(key, str) else key.name
        return Settings({**self._values, name: value})


#: How every intermediate the operators materialize is staged: the
#: multi-consumer corpus tables, the per-round lineage cuts of the
#: iterative operators (connected components, PageRank, k-means) and
#: the result table ``catalog._sorted`` stages before its global sort.
#: All of them go through :func:`stage`, which resolves the mode per
#: call: the DataFrame's session runtime conf under this key
#: (``spark.conf.set``, ``--conf``, or ``Context(settings=...)``, which
#: writes it there) → the environment variable → the default.
#: ``local`` (default): ``localCheckpoint`` — executor-local blocks,
#: MEMORY_AND_DISK, fastest, but NOT fault-tolerant: the blocks have no
#: lineage, so losing one executor mid-query fails the whole job.
#: ``reliable``: an eager ``checkpoint()`` into the
#: ``SparkContext.setCheckpointDir`` storage (HDFS/object store on a
#: cluster) — survives executor loss at the cost of a write+read
#: round-trip; the right setting for long-running 100 TB jobs where a
#: lost executor must not waste hours of work.  Always eager: a lazy
#: reliable checkpoint evaluates its input twice (the first consuming
#: job, then the checkpoint write).  Reliable checkpoint files are
#: removed only when the session was started with
#: ``spark.cleaner.referenceTracking.cleanCheckpoints=true``; otherwise
#: they stay in the checkpoint directory after the job.
STAGING_MODE: Key[str] = Key(
    "spear_spark.staging-mode",
    str,
    default="local",
    validator=lambda v: v in ("local", "reliable"),
)


def stage(df: Any, eager: bool = False):
    """Materialize ``df`` for reuse or lineage truncation per
    ``STAGING_MODE``, read from ``df``'s own session conf (unset → the
    environment/default layers).  ``local`` issues
    ``localCheckpoint(eager=eager)``; ``reliable`` issues
    ``checkpoint(eager=True)`` whatever ``eager`` says.

    In ``reliable`` mode the session must have a checkpoint directory
    configured (``SparkContext.setCheckpointDir``) — raising here with
    the key's name beats Spark's late, opaque failure inside the job.
    """
    spark = df.sparkSession
    raw = spark.conf.get(STAGING_MODE.name, None)
    settings = Settings() if raw is None else Settings({STAGING_MODE.name: raw})
    if settings[STAGING_MODE] == "local":
        return df.localCheckpoint(eager=eager)
    if spark.sparkContext.getCheckpointDir() is None:
        raise SettingsValidationError(
            f"settings key {STAGING_MODE.name} is 'reliable' but the "
            "SparkContext has no checkpoint directory — call "
            "spark.sparkContext.setCheckpointDir(<durable path>) first"
        )
    return df.checkpoint(eager=True)


#: The component Context boots from settings.  Reference analog:
#: ``spear.query-compiler.class`` selecting the QueryCompiler
#: implementation (``Context.scala:12-16``); here the compiler is
#: Catalyst, so the selectable component is the session factory —
#: any importable dotted path to a zero/keyword-arg callable returning
#: a SparkSession.
SESSION_FACTORY: Key[str] = Key(
    "spear_spark.session-factory",
    str,
    default="spear_spark.context.get_spark",
    validator=lambda v: "." in v,
)


def resolve_session_factory(settings: Settings) -> Callable[..., Any]:
    """Import and return the callable named by ``SESSION_FACTORY``
    (the ``Class.forName(...).newInstance()`` analog,
    ``Context.scala:13``)."""
    import importlib

    path = settings[SESSION_FACTORY]
    module_name, _, attr = path.rpartition(".")
    try:
        factory = getattr(importlib.import_module(module_name), attr)
    except (ImportError, AttributeError) as cause:
        raise SettingsValidationError(
            f"Configured value of settings key {SESSION_FACTORY.name} didn't "
            f"pass validation: cannot import {path!r}: {cause}"
        ) from cause
    if not callable(factory):
        raise SettingsValidationError(
            f"Configured value of settings key {SESSION_FACTORY.name} didn't "
            f"pass validation: {path!r} is not callable"
        )
    return factory
