from .catalog import PartitionedTable  # noqa: F401
