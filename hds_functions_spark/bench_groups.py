"""Empty since the registry queries stopped sharing session caches; kept
because the benchmark's self-tests import ``SHARED_CACHE_GROUPS``."""

SHARED_CACHE_GROUPS: dict[str, list[str]] = {}
