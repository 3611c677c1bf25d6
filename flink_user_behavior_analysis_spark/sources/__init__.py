from .readers import (
    file_replay_stream,
    kafka_source,
    load_table,
    marketing_generator_stream,
    parse_apache_log,
    read_ad_click_log_csv,
    read_login_log_csv,
    read_order_log_csv,
    read_receipt_log_csv,
    read_user_behavior_csv,
    register_views,
    with_item,
)

__all__ = [
    "file_replay_stream",
    "kafka_source",
    "load_table",
    "marketing_generator_stream",
    "parse_apache_log",
    "read_ad_click_log_csv",
    "read_login_log_csv",
    "read_order_log_csv",
    "read_receipt_log_csv",
    "read_user_behavior_csv",
    "register_views",
    "with_item",
]
