from .source_code import source_code_table  # noqa: F401
