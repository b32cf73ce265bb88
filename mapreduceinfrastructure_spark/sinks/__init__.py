from .textsink import write_partition_files, write_sorted_kv_text

__all__ = ["write_partition_files", "write_sorted_kv_text"]
