"""The package root's lazy export table: every ``_PUBLIC`` name resolves
to an object defined in the module it lists, and ``__all__`` is exactly
the eager names plus the sorted table."""

import mq_to_db_spark


def test_every_public_name_resolves_to_its_module():
    unresolved = {}
    for name, module in mq_to_db_spark._PUBLIC.items():
        try:
            obj = getattr(mq_to_db_spark, name)
        except AttributeError as exc:
            unresolved[name] = repr(exc)
            continue
        if getattr(obj, "__module__", None) != module:
            unresolved[name] = f"defined in {getattr(obj, '__module__', None)}, listed as {module}"
    assert unresolved == {}


def test_all_is_eager_names_plus_sorted_public():
    assert mq_to_db_spark.__all__ == [
        "EngineConfig",
        "get_spark",
        "__version__",
        *sorted(mq_to_db_spark._PUBLIC),
    ]
